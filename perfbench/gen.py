#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Reads the shared sf0.1 tables and writes a seeded variant of them:

  python3 perfbench/gen.py --src <sf0.1 dir> --out <dir> --seed <n> --copies <K>
                           [--index-plan]

Method (the rules of tools/scale_data.py, plus a seed):

- every key domain (customer, supplier, part, orders, events, users,
  documents, embeddings) goes through a seeded affine bijection
  k -> (a*k + b) mod n of its dense range [0, n); foreign keys use the
  same map, so referential integrity holds;
- with K copies, copy i of key k becomes i*n + perm(k), and copies i > 0
  get scale_data.py's per-copy mutation: every text token gets the tag
  'x<i>' and every embedding element a per-copy jitter, so duplicate
  density stays at the source's level instead of multiplying;
- with one copy, rows are written in a seeded order.

Sizes and duplicate density are the same for every seed; which rows sit
where, and which ids satisfy id-range predicates, change with it.

With --index-plan it also writes the index workload's inputs under
<out>/index: the base half of the corpus, one batch per round and
family, and the live state the final serve is checked against.

The last line of stdout is JSON: rows and bytes per written table.
"""
import argparse
import json
import math
import os
import random

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# key domain -> (table, column) that defines its dense range
DOMAINS = {
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "ord": ("orders", "o_orderkey"),
    "evt": ("events", "event_id"),
    "usr": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}

# index workload shape: per round and family the new rows and the
# replaced live rows, as shares of the corpus. Every round is an upsert.
# Round 0 replaces about 8 % of the live rows, below the default 0.2
# masked-ratio policy, so its serves read through tombstones; round 1
# brings the masked share past 0.2, so each family compacts in it.
INDEX_NEW_FRAC = 0.02
INDEX_REPLACE_FRAC = (0.04, 0.16)
INDEX_ROUNDS = len(INDEX_REPLACE_FRAC)
INDEX_SERVES = 2           # serve queries per family and round


def affine(rng, n):
    """Seeded bijection parameters (a, b) on [0, n)."""
    while True:
        a = rng.randrange(1, n) if n > 1 else 1
        if math.gcd(a, n) == 1:
            return a, rng.randrange(0, n)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--copies", type=int, default=1)
    ap.add_argument("--index-plan", action="store_true")
    ap.add_argument("--tables", default=",".join(TABLES),
                    help="comma-separated subset of the tables to write")
    args = ap.parse_args()
    src, out, K = args.src, args.out, args.copies
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = true")
    rng = random.Random(args.seed)

    def rp(t):
        return f"read_parquet('{src}/{t}.parquet')"

    size = {d: con.execute(f"SELECT max({c}) + 1 FROM {rp(t)}").fetchone()[0]
            for d, (t, c) in DOMAINS.items()}
    coef = {d: affine(rng, size[d]) for d in DOMAINS}
    order_salt = rng.randrange(1 << 30)

    def key(d, c):
        a, b = coef[d]
        n = size[d]
        return f"(i * {n} + ({a} * {c} + {b}) % {n})"

    wanted = set(args.tables.split(","))

    def emit(table, select, order_key):
        if table not in wanted:
            return
        path = f"{out}/{table}.parquet"
        # one copy: a seeded shuffle; K copies: cross-join order (the key
        # remap already moves every key, and a 6 M-row sort costs more
        # than the run can spare)
        order = f"ORDER BY hash({order_key}, {order_salt})" if K == 1 else ""
        con.execute(f"COPY (SELECT * FROM ({select}) {order}) TO '{path}' (FORMAT PARQUET)")

    copies = f"CROSS JOIN range({K}) r(i)"
    for t in ("region", "nation"):
        emit(t, f"SELECT * FROM {rp(t)}", "1")
    emit("customer", f"""
      SELECT {key('cust', 'c_custkey')} AS c_custkey, c_name, c_nationkey,
             c_acctbal, c_mktsegment FROM {rp('customer')} {copies}""", "c_custkey")
    emit("supplier", f"""
      SELECT {key('supp', 's_suppkey')} AS s_suppkey, s_name, s_nationkey,
             s_acctbal FROM {rp('supplier')} {copies}""", "s_suppkey")
    emit("part", f"""
      SELECT {key('part', 'p_partkey')} AS p_partkey, p_name, p_brand, p_type,
             p_size, p_retailprice FROM {rp('part')} {copies}""", "p_partkey")
    emit("orders", f"""
      SELECT {key('ord', 'o_orderkey')} AS o_orderkey,
             {key('cust', 'o_custkey')} AS o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM {rp('orders')} {copies}""", "o_orderkey")
    emit("lineitem", f"""
      SELECT {key('ord', 'l_orderkey')} AS l_orderkey,
             {key('part', 'l_partkey')} AS l_partkey,
             {key('supp', 'l_suppkey')} AS l_suppkey,
             l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
             l_returnflag, l_linestatus, l_shipdate
      FROM {rp('lineitem')} {copies}""", "l_orderkey, l_linenumber")
    emit("events", f"""
      SELECT {key('evt', 'event_id')} AS event_id, ts,
             {key('usr', 'user_id')} AS user_id, event_type, value, props
      FROM {rp('events')} {copies}""", "event_id")
    emit("documents", f"""
      WITH scaled AS (
        SELECT {key('doc', 'doc_id')} AS doc_id,
               CASE WHEN i = 0 THEN text
                    ELSE array_to_string(list_transform(string_split(text, ' '),
                           t -> t || 'x' || i), ' ') END AS text,
               lang, source, n_chars AS n_chars0, i
        FROM {rp('documents')} {copies})
      SELECT doc_id, text, lang, source,
             CASE WHEN i = 0 THEN n_chars0
                  ELSE CAST(length(text) AS BIGINT) END AS n_chars
      FROM scaled""", "doc_id")
    emit("embeddings", f"""
      SELECT {key('vec', 'vec_id')} AS vec_id,
             CASE WHEN i = 0 THEN embedding
                  ELSE CAST(list_transform(embedding, x ->
                    CAST(x + 0.36 * ((abs(x * 971.0 * (i + 1)) % 1.0) - 0.5)
                         AS REAL)) AS REAL[]) END AS embedding,
             label
      FROM {rp('embeddings')} {copies}""", "vec_id")

    written = {t: f"{out}/{t}.parquet" for t in TABLES if t in wanted}
    if args.index_plan:
        written.update(index_plan(con, out, rng))
    report = {}
    for t, path in written.items():
        n = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        report[t] = {"rows": n, "bytes": os.path.getsize(path)}
    print(json.dumps({"tables": report, "seed": args.seed, "copies": K}))


def index_plan(con, out, rng):
    """Base half, per-round batches and final live state for the three
    index families. Every round adds new rows to each family and
    replaces a seeded share of the live rows (new text, a re-embedded
    vector, a new payload), so tombstones accrue and the default policy
    compacts."""
    d = f"{out}/index"
    os.makedirs(d, exist_ok=True)
    docs = [r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet('{out}/documents.parquet') "
        "WHERE text IS NOT NULL ORDER BY doc_id").fetchall()]
    vecs = [r[0] for r in con.execute(
        f"SELECT vec_id FROM read_parquet('{out}/embeddings.parquet') "
        "WHERE embedding IS NOT NULL ORDER BY vec_id").fetchall()]
    files = {}
    for fam, ids in (("bm25", docs), ("pq", vecs), ("side", docs)):
        ids = list(ids)
        rng.shuffle(ids)
        n = len(ids)
        base, rest = ids[: n // 2], ids[n // 2:]
        n_new = max(1, int(n * INDEX_NEW_FRAC))
        live = {i: 0 for i in base}   # id -> version
        rounds = []
        for frac in INDEX_REPLACE_FRAC:
            new, rest = rest[:n_new], rest[n_new:]
            rep = rng.sample(sorted(live), max(1, int(n * frac)))
            for i in new:
                live[i] = 0
            for i in rep:
                live[i] += 1
            rounds.append([(i, 0) for i in new] + [(i, live[i]) for i in rep])
        files[f"index/{fam}_base"] = write_family(con, out, fam, [(i, 0) for i in base], "base")
        for r, rows in enumerate(rounds):
            files[f"index/{fam}_batch_{r}"] = write_family(con, out, fam, rows, f"batch_{r}")
        files[f"index/{fam}_live"] = write_family(con, out, fam, sorted(live.items()), "live")
    # serve queries: BM25 term triples drawn from terms in >= 20 docs,
    # IVF-PQ query vectors and side-table id sets drawn from the ids
    vocab = [r[0] for r in con.execute(
        f"SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok "
        f"FROM read_parquet('{out}/documents.parquet')) WHERE tok <> '' "
        "GROUP BY tok HAVING count(*) >= 20 ORDER BY tok").fetchall()]
    queries = {
        "bm25": [" ".join(rng.sample(vocab, 3)) for _ in range(INDEX_SERVES)],
        "pq": [" ".join(map(str, rng.sample(vecs, 4))) for _ in range(INDEX_SERVES)],
        "side": [" ".join(map(str, rng.sample(docs, 50))) for _ in range(INDEX_SERVES)],
    }
    for fam, lines in queries.items():
        with open(f"{d}/queries_{fam}.txt", "w") as f:
            f.write("\n".join(lines) + "\n")
    with open(f"{d}/plan.txt", "w") as f:
        f.write(f"rounds {INDEX_ROUNDS}\n")
    return files


def write_family(con, out, fam, rows, name):
    """Rows of one family for the (id, version) pairs in `rows`; a
    version v > 0 is the v-th replacement of that row's content."""
    con.execute("CREATE OR REPLACE TEMP TABLE ver AS SELECT unnest($1::BIGINT[]) AS id, "
                "unnest($2::INTEGER[]) AS v", [[i for i, _ in rows], [v for _, v in rows]])
    path = f"{out}/index/{fam}_{name}.parquet"
    if fam == "bm25":
        sel = f"""SELECT d.doc_id, CASE WHEN x.v = 0 THEN d.text
                         ELSE d.text || repeat(' refresh', x.v) END AS text
                  FROM read_parquet('{out}/documents.parquet') d
                  JOIN ver x ON d.doc_id = x.id"""
    elif fam == "pq":
        sel = f"""SELECT e.vec_id, CASE WHEN x.v = 0 THEN e.embedding
                         ELSE CAST(list_transform(e.embedding, c -> CAST(c * -1.0 AS REAL))
                              AS REAL[]) END AS embedding
                  FROM read_parquet('{out}/embeddings.parquet') e
                  JOIN ver x ON e.vec_id = x.id"""
    else:
        sel = f"""SELECT d.doc_id, CAST(length(d.text) + 100 * x.v AS INTEGER) AS n_chars
                  FROM read_parquet('{out}/documents.parquet') d
                  JOIN ver x ON d.doc_id = x.id"""
    con.execute(f"COPY ({sel} ORDER BY 1) TO '{path}' (FORMAT PARQUET)")
    return path


if __name__ == "__main__":
    main()
