"""Seeded inputs for the workloads, generated once per seed and cached.

The program under test only ever sees the parquet files written here; the
labels, oracles and input properties are kept beside them for the checks.
Everything below is a pure function of the workload constants and the seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ``dq.synth.webpages`` fixes its own SEED, so the benchmark seed picks
# which rows of a fixed pool form the input: whole content-key groups are
# kept or dropped together, so exact-duplicate groups stay intact.
POOL_DOCS = 100_000
CRAWL_SHARE = 10            # a crawl input is ~1/CRAWL_SHARE of the pool
LONGDOC_DOCS = 600
LONGDOC_MEDIAN_BYTES = 24_000
LONGDOC_SIGMA = 1.1
LONGDOC_MIN_BYTES = 8_000       # >= ~1,300 tokens: distinct ratio < 0.2
LONGDOC_MAX_BYTES = 1 << 20
INPUT_FILES = 8             # fixed, so the layout does not depend on nproc
TABLE_SCALE = 0.02          # rows relative to the sf0.1 TPC-H-like tables
DEV_KEEP = 0.97             # DEV copy keeps this share of PROD's rows

INPUT_FORMAT = 3            # bump when the cached files or props change
RUN_DATE = dt.date(2025, 10, 3)
_WINDOW_END = dt.datetime(2025, 10, 2, 23, 59, 59)
_WINDOW_SEC = 30 * 86400
_MASK = (1 << 64) - 1
_TS = pa.timestamp("us", tz="UTC")     # what Spark writes for a timestamp


def _mix(keys: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 finalizer of (key, seed): a seeded uint64 hash per key."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(
            (seed * 0x9E3779B97F4A7C15 + 0x632BE59BD9B4E019) & _MASK)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _input_dir(work: str, workload: str, seed: int, *params) -> str:
    """Cache directory of one input: the workload constants are part of
    the key, so changing one never reuses a stale input."""
    import hashlib
    tag = hashlib.sha256(repr((INPUT_FORMAT,) + params).encode()
                         ).hexdigest()[:8]
    return os.path.join(work, "inputs", f"{workload}-{tag}-seed{seed}")


def _write_split(table: pa.Table, out_dir: str, files: int = INPUT_FILES):
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _publish(tmp: str, final: str) -> None:
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def _text_props(texts: list, ts: pa.Array) -> dict:
    """Input properties recorded in every artifact."""
    sizes = np.array([len(t.encode("utf-8")) if t else 0 for t in texts])
    non_empty = [t for t in texts if t]
    counts: dict = {}
    for t in non_empty:
        counts[t] = counts.get(t, 0) + 1
    dups = sum(c for c in counts.values() if c > 1)
    return {
        "docs": len(texts),
        "text_bytes": int(sizes.sum()),
        "mean_doc_bytes": round(float(sizes.mean()), 1),
        "max_doc_bytes": int(sizes.max()),
        "duplicate_share": round(dups / len(texts), 4),
        "partitions": len(pc.unique(pc.cast(ts, pa.date32()))),
    }


def webpage_pool(spark, work: str) -> str:
    """The seed-independent ``webpages`` pool (with labels), built once."""
    path = os.path.join(work, "pool", f"webpages-{POOL_DOCS}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from dq.synth import webpages
        shutil.rmtree(path, ignore_errors=True)
        (webpages(spark, POOL_DOCS, with_labels=True,
                  num_partitions=INPUT_FILES)
         .write.parquet(path))
    return path


def _oracle_keep(urls, texts, buckets) -> np.ndarray:
    """Bucket-label keep/drop semantics of tests/test_pipeline.py: clean
    and PII docs are kept; of an exact-duplicate group only the min url."""
    from dq.synth import BUCKETS

    def in_bucket(name):
        lo, hi = BUCKETS[name]
        return (buckets >= lo) & (buckets <= hi)

    keep = in_bucket("clean") | in_bucket("pii")
    dup = in_bucket("dup")
    first: dict = {}
    for u, t, d in zip(urls, texts, dup):
        if d and (t not in first or u < first[t]):
            first[t] = u
    return keep | np.array([bool(d) and first[t] == u
                            for u, t, d in zip(urls, texts, dup)])


def crawl(spark, work: str, seed: int) -> dict:
    root = _input_dir(work, "crawl", seed, POOL_DOCS, CRAWL_SHARE)
    meta = os.path.join(root, "input.json")
    if not os.path.exists(meta):
        pool = pq.read_table(webpage_pool(spark, work))
        ck = pool.column("content_key").to_numpy()
        sel = pool.filter(pa.array(_mix(ck, seed) % CRAWL_SHARE == 0))
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        pages = sel.select(["url", "warc_ts", "html", "text", "lang"])
        _write_split(pages.set_column(1, "warc_ts", pages.column(
            "warc_ts").cast(_TS)), os.path.join(tmp, "pages"))
        urls = sel.column("url").to_pylist()
        texts = sel.column("text").to_pylist()
        want = _oracle_keep(urls, texts, sel.column("bucket").to_numpy())
        pq.write_table(pa.table({"url": urls, "want_keep": want}),
                       os.path.join(tmp, "oracle.parquet"))
        props = _text_props(texts, pages.column("warc_ts"))
        props["kept_share"] = round(float(want.mean()), 4)
        with open(os.path.join(tmp, "input.json"), "w") as f:
            json.dump(props, f)
        _publish(tmp, root)
    return _load(root)


def longdoc(spark, work: str, seed: int) -> dict:
    """Docs of tens of KB (lognormal sizes, a tail past the 128 KB
    perplexity chunk toward 1 MB), each the concatenation of clean pool
    texts. The pool vocabulary is ~160 words, so every doc of this length
    fails ``rule_distinct_ratio`` and the expected kept count is 0."""
    root = _input_dir(work, "longdoc", seed, POOL_DOCS, LONGDOC_DOCS,
                      LONGDOC_MEDIAN_BYTES, LONGDOC_SIGMA, LONGDOC_MIN_BYTES,
                      LONGDOC_MAX_BYTES)
    meta = os.path.join(root, "input.json")
    if not os.path.exists(meta):
        from dq.synth import BUCKETS
        pool = pq.read_table(webpage_pool(spark, work),
                             columns=["text", "bucket"])
        lo, _hi = BUCKETS["clean"]
        clean = [t for t, b in zip(pool.column("text").to_pylist(),
                                   pool.column("bucket").to_pylist())
                 if b >= lo and t]
        lens = np.array([len(t) + 1 for t in clean])
        rng = np.random.default_rng(seed)
        target = np.clip(
            rng.lognormal(np.log(LONGDOC_MEDIAN_BYTES), LONGDOC_SIGMA,
                          LONGDOC_DOCS),
            LONGDOC_MIN_BYTES, LONGDOC_MAX_BYTES)
        texts = []
        for want in target:
            k = max(1, int(want / lens.mean()))
            idx = rng.integers(0, len(clean), k)
            texts.append(" ".join(clean[i] for i in idx))
        offs = rng.integers(0, _WINDOW_SEC, LONGDOC_DOCS)
        ts = [(_WINDOW_END - dt.timedelta(seconds=int(o))).replace(
            tzinfo=dt.timezone.utc) for o in offs]
        table = pa.table({
            "url": [f"https://longdoc.example.org/s{seed}/d{i:05d}"
                    for i in range(LONGDOC_DOCS)],
            "warc_ts": pa.array(ts, _TS),
            "html": pa.nulls(LONGDOC_DOCS, pa.binary()),
            "text": texts,
            "lang": ["en"] * LONGDOC_DOCS,
        })
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_split(table, os.path.join(tmp, "pages"))
        props = _text_props(texts, table.column("warc_ts"))
        props["kept_share"] = 0.0
        with open(os.path.join(tmp, "input.json"), "w") as f:
            json.dump(props, f)
        _publish(tmp, root)
    return _load(root)


def _tables(rng, scale: float) -> dict[str, pa.Table]:
    """The sf0.1 test-data ``lineitem`` table shape (TPC-H fact table,
    keys drawn over the ``orders``/``part``/``supplier`` key ranges), row
    counts scaled by ``scale``."""
    def n(base):
        return max(5, int(base * scale))
    day0 = np.datetime64("2024-01-01T00:00:00", "us")

    def ts(k, days):
        return day0 + rng.integers(0, days * 86400, k).astype(
            "timedelta64[s]").astype("timedelta64[us]")

    def pick(words, k):
        return np.array(words, dtype=object)[rng.integers(0, len(words), k)]

    ns, np_, no, nl = n(1000), n(20000), n(150000), n(600000)
    return {
        "lineitem": pa.table({
            "l_orderkey": rng.integers(1, no + 1, nl),
            "l_partkey": rng.integers(1, np_ + 1, nl),
            "l_suppkey": rng.integers(1, ns + 1, nl),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": pa.array(ts(nl, 2500), pa.timestamp("us"))}),
    }


_ARROW_TO_DECLARED = {"int32": "int", "int64": "bigint", "double": "double",
                      "string": "string", "timestamp[us]": "timestamp"}


def table_checks(spark, work: str, seed: int) -> dict:
    """Table specs (each table as PROD and a row-subset DEV copy) and a
    ``row_count_history`` store preseeded with three earlier runs per
    spec, so every job computes increment thresholds."""
    root = _input_dir(work, "table-checks", seed, TABLE_SCALE, DEV_KEEP)
    meta = os.path.join(root, "input.json")
    if not os.path.exists(meta):
        from dq.audit import AuditStore
        rng = np.random.default_rng(seed)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        specs, history = [], []
        in_bytes = rows = 0
        for name, prod in _tables(rng, TABLE_SCALE).items():
            dev = prod.filter(pa.array(rng.random(prod.num_rows) < DEV_KEEP))
            schema = {f.name: _ARROW_TO_DECLARED[str(f.type)]
                      for f in prod.schema}
            for env, table in (("PROD", prod), ("DEV", dev)):
                path = os.path.join(tmp, env.lower(), f"{name}.parquet")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                pq.write_table(table, path)
                in_bytes += os.path.getsize(path)
                rows += table.num_rows
                specs.append({"environment": env, "database": "tpch",
                              "table": name, "path": path.replace(
                                  tmp, root, 1),
                              "expected_schema": schema,
                              "rows": table.num_rows})
                step = max(1, table.num_rows // 100)
                for k in (3, 2, 1):
                    history.append((
                        f"hist-{k}",
                        dt.datetime.combine(RUN_DATE, dt.time())
                        - dt.timedelta(days=k),
                        env, "tpch", name,
                        max(1, table.num_rows - k * step)))
        hist = spark.createDataFrame(
            history, "execution_id string, execution_timestamp timestamp, "
                     "environment string, database_name string, "
                     "table_name string, row_count long")
        AuditStore(os.path.join(tmp, "history_store")).overwrite_partitions(
            "row_count_history", hist, ["execution_id", "table_name"])
        with open(os.path.join(tmp, "input.json"), "w") as f:
            json.dump({"docs": rows, "input_bytes": in_bytes,
                       "tables": len(specs), "specs": specs}, f)
        _publish(tmp, root)
    return _load(root)


def _load(root: str) -> dict:
    with open(os.path.join(root, "input.json")) as f:
        props = json.load(f)
    return {"root": root, "pages": os.path.join(root, "pages"),
            "props": props}


BUILDERS = {"crawl": crawl, "longdoc": longdoc, "table-checks": table_checks}
