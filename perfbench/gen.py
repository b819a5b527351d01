"""Seeded inputs and expected answers for the perfbench workloads.

`ensure(workload, seed, root, nproc)` returns a directory holding the
inputs the engine reads and a `manifest.json` with the expected answers.
The same seed always yields the same files. Inputs are cached by
(workload, seed, nproc) under `root`, so repeated runs on a seed do not pay
for generation; only the newest few seeds per workload are kept.

Every expected answer is computed here, independently of the engine: with
DuckDB over the generated parquet, or in Python while writing the foreign
workbooks.
"""
import hashlib
import json
import os
import shutil
import zipfile
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# cached inputs are keyed by this file's content, so editing a generator
# or a size invalidates them
with open(__file__, "rb") as _f:
    GEN_VERSION = hashlib.sha256(_f.read()).hexdigest()[:10]
KEEP_PER_WORKLOAD = 12

# Input sizes. Each is set so that one operation takes about a second or
# more on 4 cores and a --seconds 10 run measures several of them.
EXPORT_ROWS = 300_000
IMPORT_PART_ROWS = 15_000       # per part file; 2 x nproc part files
IMPORT_SINGLE_ROWS = 120_000    # one workbook, read as split sheet ranges
NEARDUP_BASE_DOCS = 2_500       # each with 3 mutated replicas
NEARDUP_REPLICAS = 3
NEARDUP_MUTATION = 0.05
RETRIEVAL_DOCS = 2_000
RETRIEVAL_DIM = 32
RETRIEVAL_NLIST = 8
RETRIEVAL_REQUESTS = 600
RETRIEVAL_DEPTH = 20            # per-retriever list length fed to RRF
RETRIEVAL_TOPK = 10


def ensure(workload, seed, root, nproc):
    d = os.path.join(root, f"{workload}-seed{seed}-n{nproc}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(d, "manifest.json")):
        os.utime(d)
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = GENERATORS[workload](tmp, seed, nproc)
    manifest.update(workload=workload, seed=seed, nproc=nproc, gen_version=GEN_VERSION)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    _evict(root, workload, keep=d)
    # write the new files back now, not while the benchmark measures
    os.sync()
    return d


def _evict(root, workload, keep):
    mine = [os.path.join(root, n) for n in os.listdir(root)
            if n.startswith(workload + "-seed") and not n.endswith(".tmp")]
    mine.sort(key=os.path.getmtime, reverse=True)
    for old in mine[KEEP_PER_WORKLOAD:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def _rng(seed, stream):
    # one independent generator per (seed, purpose)
    return np.random.default_rng([seed, stream])


def _write_parts(table, directory, nfiles):
    """Parquet in `nfiles` files, so a scan has at least that many splits."""
    os.makedirs(directory)
    bounds = np.linspace(0, table.num_rows, nfiles + 1).astype(int)
    for i in range(nfiles):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(directory, f"part-{i:05d}.parquet"))


def _vocab(rng, n):
    """Pronounceable pseudo-words: distinct, lower-case ASCII."""
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(cons[int(rng.integers(len(cons)))] + vows[int(rng.integers(len(vows)))]
                    for _ in range(k))
        words.add(w)
    return sorted(words)


def _zipf_weights(n, s=0.9, shift=8):
    w = 1.0 / (np.arange(n) + shift) ** s
    return w / w.sum()


# --------------------------------------------------------------- export

def gen_export(d, seed, nproc):
    rng = _rng(seed, 1)
    n = EXPORT_ROWS
    words = np.array(_vocab(rng, 400), dtype=object)
    comment = pc.binary_join_element_wise(
        *[pa.array(words[rng.integers(0, len(words), n)].tolist()) for _ in range(3)], " ")

    def cents(lo, hi):  # decimal(12,2) drawn uniformly in [lo, hi) hundredths
        whole = pa.array(rng.integers(lo, hi, n)).cast(pa.decimal128(19, 0))
        return pc.multiply(whole, pa.scalar(Decimal("0.01"), pa.decimal128(3, 2))).cast(
            pa.decimal128(12, 2))

    ship = np.datetime64("1992-01-02") + rng.integers(0, 2500, n).astype("timedelta64[D]")
    table = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(1, 4 * n, n)), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 200_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 10_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": cents(100, 5_001),
        "l_extendedprice": cents(90_000, 10_500_000),
        "l_discount": cents(0, 11),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.date32()),
        "l_comment": comment,
    })
    _write_parts(table, os.path.join(d, "table"), 2 * nproc)
    con = duckdb.connect()
    row = con.sql(f"""
        SELECT count(*), sum(l_orderkey), CAST(sum(l_extendedprice) AS VARCHAR),
               count(*) FILTER (WHERE l_returnflag = 'R'),
               sum(l_shipdate - DATE '1899-12-30')
        FROM read_parquet('{d}/table/*.parquet')""").fetchone()
    return {
        "params": {"rows": n},
        "expected": {"rows": row[0], "sum_orderkey": int(row[1]), "sum_extendedprice": row[2],
                     "count_flag_r": row[3], "sum_ship_serial": int(row[4])},
    }


# --------------------------------------------------------------- import

_CT = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
       '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
       '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
       '<Default Extension="xml" ContentType="application/xml"/>'
       '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
       '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
       '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
       '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
       '</Types>')
_RELS = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
         '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
         '</Relationships>')
_WB = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
       '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
       'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
       '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')
_WB_RELS = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>'
            '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>')
# cellXfs 1 is a built-in date format (numFmtId 14), as Excel writes it
_STYLES = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
           '<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>'
           '<fills count="1"><fill><patternFill patternType="none"/></fill></fills>'
           '<borders count="1"><border/></borders>'
           '<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>'
           '<cellXfs count="2"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>'
           '<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/></cellXfs>'
           '</styleSheet>')
_SHEET_HEAD = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>')
_SHEET_TAIL = '</sheetData></worksheet>'
_HEADER = ["id", "name", "category", "amount", "event_date", "active", "note"]
_EXCEL_EPOCH = np.datetime64("1899-12-30")


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _workbook(path, rng, first_id, nrows, names, categories, notes, agg):
    """One foreign workbook as Excel writes it: shared strings for every
    text cell, date serials under a date style, booleans, and sparse rows
    (missing name, amount or note cells). Folds the rows into `agg`."""
    sst, sst_index = [], {}

    def s(text):
        i = sst_index.get(text)
        if i is None:
            i = sst_index[text] = len(sst)
            sst.append(text)
        return i

    ids = np.arange(first_id, first_id + nrows)
    name_i = rng.integers(0, len(names), nrows)
    cat_i = rng.integers(0, len(categories), nrows)
    amount_c = rng.integers(-50_000, 2_000_000, nrows)
    serial = rng.integers(40_000, 46_000, nrows)
    active = rng.integers(0, 2, nrows)
    note_i = rng.integers(0, len(notes), nrows)
    has_name = rng.random(nrows) >= 0.03
    has_amount = rng.random(nrows) >= 0.05
    has_note = rng.random(nrows) < 0.35

    header = "".join(f'<c r="{chr(65 + j)}1" t="s"><v>{s(h)}</v></c>' for j, h in enumerate(_HEADER))
    chunks = [f'<row r="1">{header}</row>']
    for k in range(nrows):
        r = k + 2
        cells = [f'<row r="{r}"><c r="A{r}"><v>{ids[k]}</v></c>']
        if has_name[k]:
            cells.append(f'<c r="B{r}" t="s"><v>{s(names[name_i[k]])}</v></c>')
        cells.append(f'<c r="C{r}" t="s"><v>{s(categories[cat_i[k]])}</v></c>')
        if has_amount[k]:
            a = int(amount_c[k])
            cells.append(f'<c r="D{r}"><v>{"-" if a < 0 else ""}{abs(a) // 100}.{abs(a) % 100:02d}</v></c>')
        cells.append(f'<c r="E{r}" s="1"><v>{serial[k]}</v></c>'
                     f'<c r="F{r}" t="b"><v>{active[k]}</v></c>')
        if has_note[k]:
            cells.append(f'<c r="G{r}" t="s"><v>{s(notes[note_i[k]])}</v></c>')
        cells.append("</row>")
        chunks.append("".join(cells))

        g = agg.setdefault(categories[cat_i[k]],
                           {"count": 0, "notes": 0, "active": 0, "amount_cents": 0,
                            "min_serial": 10 ** 9, "max_serial": -1, "sum_id": 0})
        g["count"] += 1
        g["notes"] += int(has_note[k])
        g["active"] += int(active[k])
        g["amount_cents"] += int(amount_c[k]) if has_amount[k] else 0
        g["min_serial"] = min(g["min_serial"], int(serial[k]))
        g["max_serial"] = max(g["max_serial"], int(serial[k]))
        g["sum_id"] += int(ids[k])

    sst_xml = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="{len(sst)}" '
               f'uniqueCount="{len(sst)}">' + "".join(f"<si><t>{_esc(t)}</t></si>" for t in sst) + "</sst>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=6) as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("_rels/.rels", _RELS)
        z.writestr("xl/workbook.xml", _WB)
        z.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        z.writestr("xl/styles.xml", _STYLES)
        z.writestr("xl/sharedStrings.xml", sst_xml)
        with z.open("xl/worksheets/sheet1.xml", "w", force_zip64=True) as f:
            f.write(_SHEET_HEAD.encode())
            for i in range(0, len(chunks), 10_000):
                f.write("".join(chunks[i:i + 10_000]).encode())
            f.write(_SHEET_TAIL.encode())
    return sum(len(c) for c in chunks) + len(_SHEET_HEAD) + len(_SHEET_TAIL)


def _expected_import(agg):
    out = {}
    for cat, g in agg.items():
        day = lambda x: str(_EXCEL_EPOCH + np.timedelta64(x, "D"))
        out[cat] = [g["count"], g["notes"], g["active"], g["amount_cents"],
                    day(g["min_serial"]), day(g["max_serial"]), g["sum_id"]]
    return out


def gen_import(d, seed, nproc):
    rng = _rng(seed, 2)
    vocab = _vocab(rng, 600)
    names = [f"{a.title()} {b.title()} & {c}" for a, b, c in
             zip(rng.choice(vocab, 2000), rng.choice(vocab, 2000), rng.choice(vocab, 2000))]
    categories = [f"cat<{w}>" for w in vocab[:12]]
    notes = [" ".join(rng.choice(vocab, 6)) for _ in range(300)]
    os.makedirs(os.path.join(d, "parts"))
    parts_agg, single_agg = {}, {}
    nparts = 2 * nproc
    for i in range(nparts):
        _workbook(os.path.join(d, "parts", f"part-{i:03d}.xlsx"), rng, i * IMPORT_PART_ROWS,
                  IMPORT_PART_ROWS, names, categories, notes, parts_agg)
    os.makedirs(os.path.join(d, "single"))
    xml_bytes = _workbook(os.path.join(d, "single", "book.xlsx"), rng, 10_000_000,
                          IMPORT_SINGLE_ROWS, names, categories, notes, single_agg)
    # split the large sheet into about 2 x nproc row ranges
    split_bytes = max(64 * 1024, xml_bytes // (2 * nproc) + 1)
    return {
        "params": {"parts_rows": nparts * IMPORT_PART_ROWS, "single_rows": IMPORT_SINGLE_ROWS,
                   "split_bytes": split_bytes},
        "expected": {"parts": _expected_import(parts_agg), "single": _expected_import(single_agg)},
    }


# --------------------------------------------------------------- neardup

def _docs(rng, vocab, n, lo, hi):
    weights = _zipf_weights(len(vocab))
    lens = rng.integers(lo, hi, n)
    flat = rng.choice(len(vocab), int(lens.sum()), p=weights)
    words = np.array(vocab, dtype=object)[flat]
    out, pos = [], 0
    for L in lens:
        out.append(words[pos:pos + L].tolist())
        pos += L
    return out


def _union_find_survivors(ids, pairs):
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted(i for i in ids if find(i) == i)


def gen_neardup(d, seed, nproc):
    rng = _rng(seed, 3)
    vocab = _vocab(rng, 3000)
    base = _docs(rng, vocab, NEARDUP_BASE_DOCS, 20, 90)
    ids, texts = [], []
    for i, words in enumerate(base):
        ids.append(i)
        texts.append(" ".join(words))
        for r in range(1, NEARDUP_REPLICAS + 1):
            w = list(words)
            for j in np.nonzero(rng.random(len(w)) < NEARDUP_MUTATION)[0]:
                w[j] = f"m{r}x{int(rng.integers(0, 1000))}"
            ids.append(r * 1_000_000 + i)
            texts.append(" ".join(w))
    order = rng.permutation(len(ids))
    table = pa.table({"id": pa.array(np.array(ids)[order], pa.int64()),
                      "text": pa.array([texts[k] for k in order])})
    _write_parts(table, os.path.join(d, "corpus"), 2 * nproc)
    # the pair form of SparkEntry.oracleSql("dedup_ngram_jaccard") at
    # threshold 0.5 over this corpus; components and survivors follow
    con = duckdb.connect()
    pairs = con.sql(f"""
        WITH corpus AS (SELECT id, text FROM read_parquet('{d}/corpus/*.parquet')),
         words AS (SELECT id, string_split_regex(text, '\\s+') AS w FROM corpus),
         sh AS (SELECT id,
                       CASE WHEN len(w) >= 3
                            THEN list_distinct(list_transform(range(1, len(w) - 1),
                                                              i -> array_to_string(w[i:i+2], ' ')))
                            ELSE [] END AS g
                FROM words),
         x AS (SELECT id, len(g) AS n, unnest(g) AS gram FROM sh WHERE len(g) > 0),
         pairs AS (SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b, count(*) AS inter
                   FROM x a JOIN x b ON a.gram = b.gram AND a.id < b.id
                   GROUP BY 1, 2, 3, 4)
        SELECT id_a, id_b FROM pairs
        WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.5""").fetchall()
    survivors = _union_find_survivors(ids, pairs)
    with open(os.path.join(d, "survivors.txt"), "w") as f:
        f.write("\n".join(map(str, survivors)))
    return {"params": {"docs": len(ids)},
            "expected": {"pairs": len(pairs), "survivors": len(survivors)}}


# --------------------------------------------------------------- retrieval

def gen_retrieval(d, seed, nproc):
    rng = _rng(seed, 4)
    vocab = _vocab(rng, 3000)
    texts = [" ".join(w) for w in _docs(rng, vocab, RETRIEVAL_DOCS, 15, 60)]
    centers = rng.normal(size=(16, RETRIEVAL_DIM))
    vecs = (centers[rng.integers(0, 16, RETRIEVAL_DOCS)]
            + 0.35 * rng.normal(size=(RETRIEVAL_DOCS, RETRIEVAL_DIM))).astype(np.float32)
    table = pa.table({
        "id": pa.array(np.arange(RETRIEVAL_DOCS), pa.int64()),
        "text": pa.array(texts),
        "vec": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    _write_parts(table, os.path.join(d, "corpus"), 2 * nproc)

    q = RETRIEVAL_REQUESTS
    near = rng.integers(0, RETRIEVAL_DOCS, q)
    qvecs = (vecs[near] + 0.1 * rng.normal(size=(q, RETRIEVAL_DIM))).astype(np.float32)
    ranked = _ranked_vocab(texts)
    terms = [list(rng.choice(ranked[20:800], int(rng.integers(2, 4)), replace=False)) for _ in range(q)]
    with open(os.path.join(d, "requests.jsonl"), "w") as f:
        for r in range(q):
            # float32 values written as their exact float64 expansion
            f.write(json.dumps({"rid": r, "qid": 10_000_000 + r, "terms": terms[r],
                                "vec": [float(x) for x in qvecs[r]]}) + "\n")
    qterms = pa.table({"rid": pa.array([r for r in range(q) for _ in terms[r]], pa.int64()),
                       "term": pa.array([t for r in range(q) for t in terms[r]])})
    qv = pa.table({"rid": pa.array(np.arange(q), pa.int64()),
                   "v": pa.array([[float(x) for x in v] for v in qvecs], pa.list_(pa.float64()))})
    con = duckdb.connect()
    con.register("qterms", qterms)
    con.register("qv", qv)
    # BM25 (k1 1.2, b 0.75, round 4, id tie-break), brute-force cosine and
    # RRF (k 60, round 6): the bm25SearchOracle, annExhaustiveOracle and
    # hybridRrfOracle forms of SparkEntry, batched over every request
    rows = con.sql(f"""
        WITH docs AS (SELECT id, text, CAST(vec AS DOUBLE[]) AS v
                      FROM read_parquet('{d}/corpus/*.parquet')),
         toks AS (SELECT id, regexp_extract_all(lower(text), '\\w+') AS ts FROM docs),
         dl AS (SELECT id, len(ts) AS dl FROM toks),
         stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         qt AS (SELECT DISTINCT rid, term FROM qterms),
         tf AS (SELECT id, term, count(*) AS tf
                FROM (SELECT id, unnest(ts) AS term FROM toks)
                WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
         dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         contrib AS (SELECT qt.rid, tf.id,
                            ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                              * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS c
                     FROM qt JOIN tf USING (term) JOIN dfc USING (term)
                     JOIN dl ON tf.id = dl.id CROSS JOIN stats),
         bm AS (SELECT rid, id, round(sum(c), 4) AS score FROM contrib GROUP BY 1, 2),
         bmr AS (SELECT rid, id, row_number() OVER (PARTITION BY rid ORDER BY score DESC, id) AS rank
                 FROM bm),
         cos AS (SELECT qv.rid, docs.id, list_cosine_similarity(qv.v, docs.v) AS cos
                 FROM qv CROSS JOIN docs),
         cosr AS (SELECT rid, id, row_number() OVER (PARTITION BY rid ORDER BY cos DESC, id) AS rank
                  FROM cos),
         allc AS (SELECT rid, id, 1.0 / (60 + rank) AS c FROM bmr WHERE rank <= {RETRIEVAL_DEPTH}
                  UNION ALL
                  SELECT rid, id, 1.0 / (60 + rank) FROM cosr WHERE rank <= {RETRIEVAL_DEPTH}),
         fused AS (SELECT rid, id, round(sum(c), 6) AS rrf FROM allc GROUP BY 1, 2),
         ranked AS (SELECT rid, id, row_number() OVER (PARTITION BY rid ORDER BY rrf DESC, id) AS k
                    FROM fused)
        SELECT rid, list(id ORDER BY k) FROM ranked WHERE k <= {RETRIEVAL_TOPK} GROUP BY rid
        ORDER BY rid""").fetchall()
    expected = {str(r): ids for r, ids in rows}
    return {"params": {"nlist": RETRIEVAL_NLIST}, "expected": {"top": expected}}


def _ranked_vocab(texts):
    counts = {}
    for t in texts:
        for w in set(t.split(" ")):
            counts[w] = counts.get(w, 0) + 1
    return sorted(counts, key=lambda w: (-counts[w], w))


def gen_neardup_retrieval(d, seed, nproc):
    parts = {"neardup": gen_neardup, "retrieval": gen_retrieval}
    manifest = {"params": {}, "expected": {}}
    for name, g in parts.items():
        sub = os.path.join(d, name)
        os.makedirs(sub)
        m = g(sub, seed, nproc)
        manifest["params"].update(m["params"])
        manifest["expected"][name] = m["expected"]
    return manifest


GENERATORS = {
    "export": gen_export,
    "import": gen_import,
    "neardup_retrieval": gen_neardup_retrieval,
}
