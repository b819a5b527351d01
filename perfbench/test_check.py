"""The benchmark's own test: a wrong answer is counted as a failed
operation, never passed silently.

    python3 perfbench/test_check.py

Builds small outputs in the shapes the engine produces (a workbook in the
engine's cell format, a zstd CSV, survivor lists, retrieval answers), checks
them against correct expectations, then against corrupted ones.
"""
import copy
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build")

ROWS = [  # l_orderkey, l_extendedprice, l_returnflag, l_shipdate (serial)
    (1, "901.5", "R", 33970), (7, "1200.25", "N", 34000), (9, "15.1", "R", 35000)]
EXPECTED_EXPORT = {"rows": 3, "sum_orderkey": 17, "sum_extendedprice": "2116.85",
                   "count_flag_r": 2, "sum_ship_serial": 102970}


def engine_style_sheet(rows):
    # the engine writer's cell layout: numbers t="n", inline strings, styled dates
    out = ['<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>l_orderkey</t></is></c></row>']
    for i, (k, price, flag, ship) in enumerate(rows, start=2):
        out.append(f'<row r="{i}"><c r="A{i}" t="n"><v>{k}</v></c><c r="F{i}" t="n"><v>{price}</v></c>'
                   f'<c r="H{i}" t="inlineStr"><is><t>{flag}</t></is></c>'
                   f'<c r="J{i}" s="3" t="n"><v>{ship}</v></c></row>')
    out.append("</sheetData></worksheet>")
    return "".join(out)


class CorruptedExpectationsFail(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def assert_counts(self, workload, ops, inputs, good, bad):
        self.assertEqual(check.check(workload, ops, inputs, good)[0], 0)
        failed, problems, _ = check.check(workload, ops, inputs, bad)
        self.assertEqual(failed, 1, problems)

    def test_export_workbook_and_csv(self):
        xdir = os.path.join(self.dir, "x")
        os.makedirs(xdir)
        with zipfile.ZipFile(os.path.join(xdir, "part-0.xlsx"), "w") as z:
            z.writestr("xl/worksheets/sheet1.xml", engine_style_sheet(ROWS))
        cdir = os.path.join(self.dir, "c")
        os.makedirs(cdir)
        csv = os.path.join(cdir, "data.csv")
        with open(csv, "w") as f:
            f.write("l_orderkey,l_extendedprice,l_returnflag,l_shipdate\n")
            f.write("1,901.50,R,1993-01-01\n7,1200.25,N,1993-01-31\n9,15.10,R,1995-10-28\n")
        subprocess.run(["zstd", "-q", "--rm", csv], check=True)
        ops = [{"kind": "xlsx", "out": xdir}, {"kind": "csvzst", "out": cdir}]
        good = {"expected": EXPECTED_EXPORT}
        self.assertEqual(check.check("export", ops, self.dir, good)[0], 0)
        bad = {"expected": dict(EXPECTED_EXPORT, sum_orderkey=18)}
        self.assertEqual(check.check("export", ops, self.dir, bad)[0], 2)

    def test_import_aggregate(self):
        answer = [["cat<a>", "2", "1", "1", "1.234567E7", "2009-07-06", "2010-01-01", "3"]]
        good = {"expected": {"parts": {"cat<a>": [2, 1, 1, 1234567000, "2009-07-06", "2010-01-01", 3]}}}
        bad = copy.deepcopy(good)
        bad["expected"]["parts"]["cat<a>"][3] += 1
        self.assert_counts("import", [{"kind": "parts", "answer": answer}], self.dir, good, bad)

    def test_neardup_survivors_and_retrieval_top_k(self):
        got = os.path.join(self.dir, "op0-survivors.txt")
        with open(got, "w") as f:
            f.write("1\n5\n9")
        os.makedirs(os.path.join(self.dir, "neardup"))
        want = os.path.join(self.dir, "neardup", "survivors.txt")
        ops = [{"kind": "neardup", "survivors": got},
               {"kind": "request", "rid": 0, "answer": [4, 2, 9]},
               {"kind": "request", "rid": 1, "answer": [3, 1]}]
        good = {"expected": {"retrieval": {"top": {"0": [4, 2, 9], "1": [3, 1]}}}}
        bad = {"expected": {"retrieval": {"top": {"0": [4, 2, 9], "1": [1, 3]}}}}
        with open(want, "w") as f:
            f.write("1\n5\n9")
        self.assert_counts("neardup_retrieval", ops, self.dir, good, bad)
        with open(want, "w") as f:
            f.write("1\n5")
        self.assertEqual(check.check("neardup_retrieval", ops, self.dir, good)[0], 1)


if __name__ == "__main__":
    unittest.main()
