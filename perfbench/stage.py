"""Seeded input stager for the benchmark.

Every input a run reads is generated here from the workload seed: the same
seed gives byte-identical files, a different seed gives different ones.
Output goes under the directory given on the command line; the last line
printed is a JSON manifest holding the staged-input digest.

    python3 perfbench/stage.py <census_report|pretrain> <seed> <out_dir>
"""
import hashlib
import json
import os
import random
import sys
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data table row column key value part line order customer "
         "query scan filter join group agg sort hash merge window stream batch "
         "vector spark big small fast slow").split()
LANGS = ["en"] * 44 + ["zh"] * 15 + ["de"] * 14 + ["es"] * 14 + ["fr"] * 13

# Census Reporter tables, most requested first: (geographies, codes, indent
# depth) of each popularity rank. Every request asks for the tracts of one
# county (summary level 140), so each table holds one county. Rank 1 has the
# shape the repo records for B17001 over the tracts of San Diego County
# (05000US06073): 628 tracts and 59 codes, i.e. 628 rows x 120 columns with
# geoid and name (SURVEY.md section 6, from the reference's test_url.py).
# The shapes of ranks 2-8 are invented. They are fixed, so every seed asks
# the same amount of work; the seed draws the other counties, the table ids,
# titles, indent layout and values.
TABLE_SHAPES = [(628, 59, 3), (317, 9, 2), (583, 25, 3), (199, 5, 1), (453, 17, 4),
                (158, 31, 2), (369, 7, 3), (208, 13, 1)]
SAN_DIEGO = 73
# Pretrain corpus: base docs x replica factor, and its layouts
PRETRAIN_BASE_DOCS = 2000
PRETRAIN_FACTOR = 5
PRETRAIN_FILES = 8
STREAM_BATCHES = 2
LINEITEM_ROWS = 20000

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def md5hex(s):
    return hashlib.md5(s.encode()).hexdigest()


def base_docs(rng, n):
    docs = []
    for i in range(n):
        target = rng.randint(48, 553)
        words, size = [], -1
        while size < target:
            w = rng.choice(VOCAB)
            words.append(w)
            size += len(w) + 1
        docs.append((i, " ".join(words)[:target], rng.choice(LANGS), f"src{i % 20}"))
    return docs


def replicas(seed, docs, factor):
    """The md5 replica law: replica r > 0 of a doc is a near-duplicate (an
    md5 tag appended) except every third one, an exact copy under a new id.
    The md5 input is salted with the seed."""
    rows = []
    for doc_id, text, lang, source in docs:
        for r in range(factor):
            tag = md5hex(f"{seed}:{doc_id}_{r}")[:6]
            exact = r == 0 or int(tag[:4], 16) % 3 == 0
            t = text if exact else f"{text} {tag}"
            rows.append((doc_id * factor + r, t, lang, source, len(t)))
    return rows


def doc_table(rows):
    cols = list(zip(*rows))
    return pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, DOC_SCHEMA)],
                                schema=DOC_SCHEMA)


def stage_corpus(rows, out, n_files, n_batches):
    """`documents.parquet/` split in n_files (so scans split) and `stream/`,
    n_batches id-ordered files with increasing mtimes (one per trigger)."""
    for name, n, sub in (("documents.parquet", n_files, "part-%05d.parquet"),
                         ("stream", n_batches, "f%03d.parquet")):
        for i in range(n):
            lo, hi = len(rows) * i // n, len(rows) * (i + 1) // n
            path = os.path.join(out, name, sub % i)
            write_parquet(doc_table(rows[lo:hi]), path)
            if name == "stream":
                os.utime(path, (1_000_000 + i, 1_000_000 + i))


def stage_pretrain(seed, out):
    rng = random.Random(seed)
    rows = replicas(seed, base_docs(rng, PRETRAIN_BASE_DOCS), PRETRAIN_FACTOR)
    stage_corpus(rows, out, PRETRAIN_FILES, STREAM_BATCHES)
    return {"docs": len(rows)}


def census_table(rng, table_id, county, n_geo, n_codes, depth):
    """One Census Reporter `data/show` payload for the tracts of one county,
    with the given tract count, number of codes and indent depth; children
    never exceed the total, so proportions are subset pairs."""
    columns, indent = {}, 0
    for i in range(1, n_codes + 1):
        code = f"{table_id}{i:03d}"
        if i > 1:
            indent = rng.randint(1, min(depth, indent + 1))
        columns[code] = {"name": ("Total:" if i == 1 else f"Line {i}") +
                         (":" if indent < depth else ""), "indent": 0 if i == 1 else indent}
        if i > 1 and rng.random() < 0.1:
            columns[code + ".5"] = {"name": "pseudo header", "indent": indent}
    geography, data = {}, {}
    for g in range(n_geo):
        geoid = f"14000US06{county:03d}{g:06d}"
        geography[geoid] = {"name": f"Census Tract {g}, County {county}, CA"}
        total = rng.randint(500, 20000)
        est, err = {}, {}
        for i in range(1, n_codes + 1):
            code = f"{table_id}{i:03d}"
            e = total if i == 1 else rng.randint(1, total // 2)
            est[code] = float(e) if rng.random() < 0.5 else e
            err[code] = rng.randint(10, 60 + int(e ** 0.5) * 4)
        data[geoid] = {table_id: {"estimate": est, "error": err}}
    return {"release": {"id": "acs2015_5yr", "name": "ACS 2015 5-year", "years": "2011-2015"},
            "tables": {table_id: {"title": f"Table {table_id}", "columns": columns}},
            "geography": geography, "data": data}


def stage_census(seed, out):
    rng = random.Random(seed)
    ids = [f"B{n}" for n in rng.sample(range(10000, 100000), len(TABLE_SHAPES))]
    counties = [SAN_DIEGO] + [2 * c + 1 for c in rng.sample(
        [c for c in range(58) if 2 * c + 1 != SAN_DIEGO], len(TABLE_SHAPES) - 1)]
    for tid, county, shape in zip(ids, counties, TABLE_SHAPES):
        path = os.path.join(out, "tables", tid + ".json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(census_table(rng, tid, county, *shape), f, sort_keys=True)
    # lineitem in seed-shuffled row order, for the with_m90 SQL reports
    t0 = datetime(1992, 1, 1, tzinfo=timezone.utc)
    rows = []
    for k in range(LINEITEM_ROWS // 4):
        for ln in range(1, 5):
            rows.append((k + 1, rng.randint(1, 2000), rng.randint(1, 100), ln,
                         float(rng.randint(1, 50)), round(rng.uniform(900, 95000), 2),
                         rng.randint(0, 10) / 100, rng.randint(0, 8) / 100,
                         rng.choice("ARN"), rng.choice("OF"),
                         t0 + timedelta(days=rng.randint(0, 2500))))
    rng.shuffle(rows)
    names = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
             "l_shipdate"]
    types = [pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.float64(), pa.float64(),
             pa.float64(), pa.float64(), pa.string(), pa.string(), pa.timestamp("us", tz="UTC")]
    cols = list(zip(*rows))
    write_parquet(pa.Table.from_arrays([pa.array(c, type=t) for c, t in zip(cols, types)],
                                       names=names),
                  os.path.join(out, "lineitem.parquet", "part-00000.parquet"))
    return {"tables": ids, "counties": [f"{c:03d}" for c in counties],
            "lineitem_rows": len(rows)}


def digest(out):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def main(argv):
    workload, seed, out = argv[1], int(argv[2]), argv[3]
    info = {"census_report": stage_census, "pretrain": stage_pretrain}[workload](seed, out)
    info["digest"] = digest(out)
    print(json.dumps(info))


if __name__ == "__main__":
    main(sys.argv)
