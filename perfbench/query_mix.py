"""The ``query_mix`` workload: the 17 headline leaves of ``bench.py``.

Inputs are made from the seed with the shape of the sf0.1 tables
(documents with planted near-duplicates, unit-norm embeddings with
weak label structure, an events stream with ~15 users per 1,000
events over 30 days). Every leaf writes its result as parquet; after
the timed window DuckDB checks each result: the oracled leaves against
``__spark_entry__.oracle_sql()`` and the bench-only shadows against
exact answers they must be contained in.
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .common import median, now

TS_LEAVES = (
    "range_check",
    "rocc_check",
    "curve_interp",
    "agg_hourly",
    "gapfill_10min",
    "rollup_hourly",
    "tier_1d_from_1h",
    "sessionize",
    "quantile_rollup",
    "quantile_rollup_approx",
)
TEXT_LEAVES = (
    "dedup_exact",
    "minhash_dedup",
    "simhash_dedup",
    "cosine_topk",
    "lsh_cosine_topk",
    "embedding_near_dup_lsh",
    "ivf_cosine_topk_probe4",
)

# --- inputs ------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value query index "
    "shuffle batch cache join filter group order limit select insert "
    "update delete schema parquet arrow kernel hash sort scan write read"
).split()


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    words = np.array(_VOCAB)
    texts = [" ".join(rng.choice(words, size=k)) for k in rng.integers(10, 101, n)]
    # ~0.5% light edits of another doc (5% of words swapped), ~0.15% copies
    n_near, n_copy = n // 200, max(1, n // 650)
    src = rng.integers(0, n, n_near + n_copy)
    dst = rng.integers(0, n, n_near + n_copy)
    for i in range(n_near):
        w = texts[src[i]].split()
        for p in rng.integers(0, len(w), max(1, len(w) // 20)):
            w[p] = _VOCAB[rng.integers(0, len(_VOCAB))]
        texts[dst[i]] = " ".join(w)
    for i in range(n_near, n_near + n_copy):
        texts[dst[i]] = texts[src[i]]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n,
                           p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    dim = 64
    labels = rng.integers(0, 10, n).astype(np.int32)
    v = rng.normal(size=(10, dim))[labels] * 0.07 + rng.normal(size=(n, dim)) * 0.125
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": labels,
    })


def _events(n: int, rng: np.random.Generator) -> pa.Table:
    users = max(1, n * 15 // 1000)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + (rng.random(n) * 30 * 86400e6).astype(np.int64))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n),
        "value": np.round(np.abs(rng.normal(size=n)) * 49.6 + rng.random(n) * 30, 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)],
    })


def generate_input(size: dict, seed: int, out_dir: str) -> int:
    """Write documents/embeddings/events parquet; return total rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(size["documents"], rng),
        "embeddings": _embeddings(size["embeddings"], rng),
        "events": _events(size["events"], rng),
    }
    for name, tbl in tables.items():
        # one row group per file, like the sf tables
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
    return sum(t.num_rows for t in tables.values())


# --- the timed pass ----------------------------------------------------------


def leaves() -> dict:
    import __spark_entry__ as entry
    import bench

    qs = {**entry.queries(), **bench._extra_queries()}
    return {name: qs[name] for name in TS_LEAVES + TEXT_LEAVES}


def pass_order(seed: int, n_pass: int) -> list[str]:
    names = list(TS_LEAVES + TEXT_LEAVES)
    random.Random(seed * 1009 + n_pass).shuffle(names)
    return names


def query_mix(ctx, sf_dir: str, rows: int):
    """Timed: passes over the 17 leaves in a seeded order, each leaf's
    result written as parquet and its caches released, until
    ``--seconds`` is spent (at least one pass)."""
    from enhydris_autoprocess_spark.cache import release_caches

    spark, fns = ctx.spark, leaves()
    passes, leaf_times = [], {n: [] for n in fns}
    out_root = os.path.join(ctx.work_dir, "out")
    with ctx.timed():
        t_start = now()
        while not passes or now() - t_start < ctx.seconds:
            k = len(passes)
            with ctx.op(f"pass-{k}", unit=False) as op:
                for name in pass_order(ctx.seed, k):
                    with ctx.tracer.span(f"leaf.{name}"), ctx.unit(op, name):
                        t0 = now()
                        df = fns[name](spark, sf_dir)
                        df.write.parquet(os.path.join(out_root, f"{k}", name))
                        release_caches(df)
                        leaf_times[name].append(now() - t0)
            passes.append(op)

    failures, recall = check_outputs(sf_dir, os.path.join(out_root, "0"), ctx.cores)
    detail = {
        "input.rows": rows,
        "passes": len(passes),
        "minhash_dedup.recall": recall,
        "ts_query_pass_s": median(
            [sum(leaf_times[n][i] for n in TS_LEAVES) for i in range(len(passes))]
        ),
        "text_query_pass_s": median(
            [sum(leaf_times[n][i] for n in TEXT_LEAVES) for i in range(len(passes))]
        ),
        **{f"leaf.{n}_s": median(t) for n, t in leaf_times.items()},
    }
    return passes, failures, detail, len(fns) * len(passes)


# --- output checks -------------------------------------------------------------

# Exact Jaccard >= 0.5 over word-trigram sets: the same answer as
# oracle_sql()["minhash_dedup"], through an inverted index on the
# shingles instead of a cross join (the cross join takes ~15 s on 500
# documents). The smoke test pins the two equal.
#
# minhash_dedup equals it only when LSH banding finds every pair (its
# docstring says so): 16 bands of 4 hashes find a pair at Jaccard 0.57
# with probability ~0.83, and seeded inputs do hold such pairs. So the
# leaf must report only true pairs with their exact Jaccard, and every
# pair at Jaccard >= MINHASH_SURE, which banding misses with
# probability < 1e-7; its recall is reported.
MINHASH_SURE = 0.9
JACCARD_SQL = r"""
    WITH t AS (
      SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
    sh AS (
      SELECT doc_id,
        list_distinct([array_to_string(w[i:i+2], ' ')
                       for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS s
      FROM t),
    sz AS (SELECT doc_id, len(s) AS n FROM sh),
    u AS (SELECT doc_id, unnest(s) AS g FROM sh),
    k AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
      FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
      floor(k * 1.0 / (na.n + nb.n - k) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM k JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
    WHERE k * 1.0 / (na.n + nb.n - k) >= 0.5
"""

_COSINE = """
    floor(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          * 1000000 + 0.5) / 1000000
"""

# every pair at cosine >= 0.3: the LSH near-dup shadow may miss pairs,
# but each pair it reports must be here with the same cosine
NEAR_DUP_03_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COSINE} AS cosine
    FROM e a, e b
    WHERE a.vec_id < b.vec_id AND {_COSINE} >= 0.3
"""

# every (query, neighbor) score for the five IVF queries
ALL_SCORES_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COSINE} AS score
    FROM e a, e b WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id
"""

# quantiles from the sketch must sit within this rank error of exact
APPROX_RANK_EPS = 0.001


def _canon(con, rel: str) -> str:
    """A SELECT over ``rel`` with columns in name order, doubles at 9
    decimals (as scripts/check_entry.py compares), integers widened and
    timestamps as epoch micros."""
    cols = con.sql(f"DESCRIBE {rel}").fetchall()
    exprs = []
    for name, typ, *_ in sorted(cols):
        q = f'"{name}"'
        if typ in ("DOUBLE", "FLOAT"):
            exprs.append(f"round({q}, 9) AS {q}")
        elif typ in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
            exprs.append(f"{q}::BIGINT AS {q}")
        elif typ.startswith("TIMESTAMP"):
            exprs.append(f"epoch_us({q}) AS {q}")
        else:
            exprs.append(q)
    return f"SELECT {', '.join(exprs)} FROM {rel}"


def _extra_rows(con, a: str, b: str) -> int:
    """Rows of relation ``a`` with no equal row in ``b``."""
    return con.sql(
        f"SELECT count(*) FROM ({_canon(con, a)} EXCEPT ALL {_canon(con, b)})"
    ).fetchone()[0]


def _columns(con, rel: str) -> list[str]:
    return sorted(r[0] for r in con.sql(f"DESCRIBE {rel}").fetchall())


def check_outputs(sf_dir: str, out_dir: str, threads: int):
    """Returns ({leaf: 1 if its result is wrong else 0}, minhash recall)."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in ("documents", "embeddings", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name in TS_LEAVES + TEXT_LEAVES:
        con.sql(f"CREATE VIEW out_{name} AS SELECT * FROM "
                f"read_parquet('{out_dir}/{name}/*.parquet')")

    def equal(name: str, sql: str) -> bool:
        con.sql(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
        got = f"out_{name}"
        return (_columns(con, got) == _columns(con, "want")
                and _extra_rows(con, got, "want") == 0
                and _extra_rows(con, "want", got) == 0)

    def contained(name: str, sql: str, cols: str) -> bool:
        con.sql(f"CREATE OR REPLACE TEMP TABLE want AS SELECT {cols} FROM ({sql})")
        con.sql(f"CREATE OR REPLACE TEMP VIEW got AS SELECT {cols} FROM out_{name}")
        return _extra_rows(con, "got", "want") == 0

    def check(name: str) -> bool:
        if name == "simhash_dedup":
            return _simhash_ok(con, name)
        if name == "minhash_dedup":
            sure = f"SELECT * FROM ({JACCARD_SQL}) WHERE jaccard >= {MINHASH_SURE}"
            con.sql(f"CREATE OR REPLACE TEMP TABLE sure AS {sure}")
            return (contained(name, JACCARD_SQL, "id_a, id_b, jaccard")
                    and _extra_rows(con, "sure", f"out_{name}") == 0)
        if name in oracles:
            return equal(name, oracles[name])
        if name == "embedding_near_dup_lsh":
            return contained(name, NEAR_DUP_03_SQL, "id_a, id_b, cosine")
        if name == "ivf_cosine_topk_probe4":
            per_query = con.sql(f"SELECT coalesce(max(c), 0) FROM (SELECT count(*) c "
                                f"FROM out_{name} GROUP BY query_id)").fetchone()[0]
            return per_query <= 5 and contained(
                name, ALL_SCORES_SQL, "query_id, neighbor_id, score")
        if name == "quantile_rollup_approx":
            return _quantiles_ok(con, name)
        raise KeyError(f"no check for leaf {name}")

    failures = {}
    for name in TS_LEAVES + TEXT_LEAVES:
        try:
            ok = check(name)
        except duckdb.Error as e:
            print(f"check {name}: {e}", file=sys.stderr)
            ok = False
        failures[name] = int(not ok)
    found, total = con.sql(
        f"SELECT (SELECT count(*) FROM out_minhash_dedup), count(*) FROM ({JACCARD_SQL})"
    ).fetchone()
    con.close()
    return failures, found / total if total else 1.0


# The production-radius simhash shadow reports (id_a, id_b, hamming)
# candidates; its exact answer needs the engine's own fingerprint, so
# the check is structural plus recall of exact copies, whose
# fingerprints are equal under any fingerprint function.
SIMHASH_MAX_HAMMING = 8
EXACT_COPIES_SQL = """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
    FROM documents a JOIN documents b ON a.text = b.text AND a.doc_id < b.doc_id
"""


def _simhash_ok(con, name: str) -> bool:
    out = f"out_{name}"
    if _columns(con, out) != ["hamming", "id_a", "id_b"]:
        return False
    bad, n, distinct = con.sql(
        f"SELECT count(*) FILTER (NOT (id_a < id_b AND hamming BETWEEN 0 AND "
        f"{SIMHASH_MAX_HAMMING})), count(*), count(DISTINCT (id_a, id_b)) FROM {out}"
    ).fetchone()
    con.sql(f"CREATE OR REPLACE TEMP TABLE want AS {EXACT_COPIES_SQL}")
    return bad == 0 and n == distinct and _extra_rows(con, "want", out) == 0


def _quantiles_ok(con, name: str) -> bool:
    row = con.sql(f"SELECT * FROM out_{name}").fetchall()
    cols = [c[0] for c in con.sql(f"DESCRIBE out_{name}").fetchall()]
    if len(row) != 1:
        return False
    got = dict(zip(cols, row[0]))
    n = con.sql("SELECT count(*) FROM events").fetchone()[0]
    if got.get("n") != n:
        return False
    for col, v in got.items():
        if col == "n":
            continue
        q = float(col[1:].replace("_", ".")) / 100
        lo, hi = con.sql(
            f"SELECT count(*) FILTER (value < {v!r}), "
            f"count(*) FILTER (value <= {v!r}) FROM events"
        ).fetchone()
        if lo > (q + APPROX_RANK_EPS) * n or hi < (q - APPROX_RANK_EPS) * n:
            return False
    return True
