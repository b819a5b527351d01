"""Independent checks of the engine's answers.

Nothing here uses the engine's reader: the workbooks the engine wrote are
read with Python's `zipfile` and regular expressions over the sheet XML,
the zstd CSV with DuckDB, and every other answer is compared with the
expected answer the generator computed. Each operation that is wrong
counts as a failed operation.
"""
import math
import os
import re
import zipfile
from decimal import Decimal

import duckdb

# The engine's writer emits numbers as `<c r="A2" t="n"><v>..</v>` and
# strings inline; dates carry a style attribute. Columns of the export
# table: A l_orderkey, F l_extendedprice, H l_returnflag, J l_shipdate.
_ORDERKEY = re.compile(rb'<c r="A\d+"[^>]*><v>(-?\d+)</v>')
_PRICE = re.compile(rb'<c r="F\d+"[^>]*><v>([-0-9.E]+)</v>')
_FLAG_R = re.compile(rb'<c r="H\d+"[^>]*><is><t>R</t>')
_SHIP = re.compile(rb'<c r="J\d+"[^>]*><v>(\d+)</v>')


def _xlsx_summary(paths):
    rows = keys = r = ship = 0
    prices = []
    for path in paths:
        with zipfile.ZipFile(path) as z:
            for name in z.namelist():
                if not (name.startswith("xl/worksheets/") and name.endswith(".xml")):
                    continue
                data = z.read(name)
                k = _ORDERKEY.findall(data)
                rows += len(k)
                keys += sum(map(int, k))
                prices.extend(map(float, _PRICE.findall(data)))
                r += len(_FLAG_R.findall(data))
                ship += sum(map(int, _SHIP.findall(data)))
    return {"rows": rows, "sum_orderkey": keys,
            "sum_extendedprice": round(math.fsum(prices), 2),
            "count_flag_r": r, "sum_ship_serial": ship}


def _csv_summary(path):
    con = duckdb.connect()
    row = con.sql(f"""
        SELECT count(*), sum(l_orderkey), sum(CAST(l_extendedprice AS DECIMAL(18, 2))),
               count(*) FILTER (WHERE l_returnflag = 'R'),
               sum(CAST(l_shipdate AS DATE) - DATE '1899-12-30')
        FROM read_csv('{path}', header = true, compression = 'zstd')""").fetchone()
    return {"rows": row[0], "sum_orderkey": int(row[1]), "sum_extendedprice": float(row[2]),
            "count_flag_r": row[3], "sum_ship_serial": int(row[4])}


def _files(out, suffix):
    return sorted(os.path.join(out, f) for f in os.listdir(out)
                  if f.endswith(suffix) and not f.startswith((".", "_")))


def check_export(op, expected):
    """Returns (problem or None, output bytes)."""
    out = op["out"]
    if op["kind"] == "csvzst":
        paths = [os.path.join(out, "data.csv.zst")]
        got = _csv_summary(paths[0])
    else:
        paths = _files(out, ".xlsx")
        if op["kind"] == "xlsx1" and len(paths) != 1:
            return f"single-file write produced {len(paths)} workbooks", 0
        got = _xlsx_summary(paths)
    want = dict(expected, sum_extendedprice=float(Decimal(expected["sum_extendedprice"])))
    size = sum(os.path.getsize(p) for p in paths)
    if got != want:
        return f"{op['kind']}: got {got}, want {want}", size
    return None, size


def check_import(op, expected):
    want = expected[op["kind"]]
    got = {}
    for row in op["answer"]:
        cat, cnt, notes, active, amount, dmin, dmax, sum_id = row
        got[cat] = [int(cnt), int(notes), int(active), round(float(amount) * 100),
                    dmin, dmax, int(sum_id)]
    if got != want:
        return f"{op['kind']}: aggregate differs from the generator's manifest"
    return None


def check_neardup(op, survivors):
    with open(op["survivors"]) as f:
        got = [int(x) for x in f.read().split()]
    if got != survivors:
        return f"{len(got)} survivors, want {len(survivors)} (or different ids)"
    return None


def check_retrieval(op, expected):
    want = expected["top"][str(op["rid"])]
    if list(op["answer"]) != want:
        return f"request {op['rid']}: got {op['answer']}, want {want}"
    return None


def check(workload, ops, inputs, manifest):
    """Checks every operation. Returns (failures, problems, extra) where
    `extra` maps op index to facts the metrics need (output bytes)."""
    expected = manifest["expected"]
    survivors = None
    if workload == "neardup_retrieval":
        with open(os.path.join(inputs, "neardup", "survivors.txt")) as f:
            survivors = [int(x) for x in f.read().split()]
    problems, extra = [], {}
    for i, op in enumerate(ops):
        try:
            if op["kind"] == "error":
                p = op["error"]
            elif workload == "export":
                p, size = check_export(op, expected)
                extra[i] = size
            elif workload == "import":
                p = check_import(op, expected)
            elif op["kind"] == "neardup":
                p = check_neardup(op, survivors)
            else:
                p = check_retrieval(op, expected["retrieval"])
        except Exception as e:  # an unreadable output is a wrong answer
            p = f"{op.get('kind')}: {type(e).__name__}: {e}"
        if p:
            problems.append(p)
    return len(problems), problems, extra
