"""Deduplication families for web-scale training-data pipelines.

Five strategies, cheapest-first, all expressed as DataFrame plans (the
north-rule generalization of the reference's exact row-dedup,
``core/quality_checks.py:861-883`` in /root/reference, which computed
``len(df) - len(df.drop_duplicates())`` on a driver-materialized frame):

- **exact**        — 64-bit text signature; map-side-combined
                     groupBy(min id) + keeper join-back (skew-safe;
                     keep-first deterministic by id).
- **n-gram Jaccard** — shingle inverted index + self-join; exact
                     similarity, quadratic only within shared shingles.
- **MinHash + LSH** — per-doc signature (num_hashes permutations via
                     seeded xxhash64), banded bucket join; candidate
                     pairs only where a band collides. The scale path:
                     shuffle volume is O(docs × bands), never O(docs²).
- **SimHash**      — 64-bit weighted-bit fingerprint; near-dups =
                     Hamming distance ≤ k, found via pigeonhole banding
                     (split into k+1 chunks; a pair within distance k
                     must agree exactly on ≥1 chunk).
- **embedding cosine** — delegated to dq.similarity (hyperplane-LSH
                     bucketed or brute-force top-k).

Every pair-producing family composes with :func:`connected_components`
(iterative min-label propagation → cluster per doc) and
:func:`drop_near_duplicates` (keep the min-id representative per
cluster) — the transitive-closure step that turns pair lists into an
actual dedup policy.

Execution split: exact dedup and Jaccard shingling are native Column
expressions (JVM-side, oracle-testable); MinHash/SimHash signatures run
in Arrow-vectorized pandas UDFs with numpy (interpreted JVM higher-order
functions measured ~400x slower — see the minhash section comment). All
signature work is row-local; the only shuffles are the explicit
groupBy/join on candidate keys.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dq.textstats import tokens

SHINGLE_SEP = "␟"        # ␟ — never appears in whitespace-split tokens


# ---------------------------------------------------------------- exact ---

def text_signature(text: Column, key: Column) -> Column:
    """64-bit exact-dedup signature of a text, shared by batch
    (:func:`exact_dedup`, hence ``dq.pipeline.score_pages``) and
    streaming (``dq.streaming.streaming_dedup``); the oracle SQL of
    ``pipeline_rules_only`` mirrors its null handling.

    NULL/blank text hashes the row's ``key`` with a ``"nulltext"``
    literal instead: such rows dedup to themselves (rule_non_empty
    drops them anyway) and cannot pile into one skewed hash bucket.
    Non-emptiness is tested on the text itself, not through
    ``rule_non_empty`` (the same boolean: a trimmed non-empty text
    always splits into at least one token), so the signature depends
    on no UDF output and column pruning keeps the Arrow scoring stages
    out of the keeper branch — otherwise they would run twice per doc."""
    return F.when(
        text.isNotNull() & (F.trim(text) != ""), F.xxhash64(text)
    ).otherwise(F.xxhash64(key, F.lit("nulltext")))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                check_unique: bool = False) -> DataFrame:
    """Keep the first (smallest-id) row of every exact-duplicate group.

    Adds ``is_dup_copy`` (True = shadowed copy). Plan:
    ``groupBy(text_sig).agg(min(id))`` + join back — deliberately NOT
    ``row_number().over(partitionBy(signature))``: a window must
    colocate every row of a signature in ONE task and window shuffles
    are not skew-splittable by AQE (AQE skew handling applies to joins
    and rebalance only), so a viral document duplicated 10^8 times
    becomes a single-task straggler at web scale. The aggregate form
    combines map-side (one row per signature per map task crosses the
    wire regardless of skew) and the join back is AQE-skew-join
    eligible; when the keeper table is small enough AQE turns it into a
    broadcast join with no wide shuffle at all. The keeper side is
    derived from a narrow (id, text_sig) projection so column pruning
    keeps upstream UDF stages out of that branch. The signature column
    is named ``text_sig`` (profilers find the keeper exchange by it)
    and dropped on exit.

    Requires unique non-null ids (duplicate (signature, id) rows would
    all be marked keepers, where the window form would keep exactly
    one). ``check_unique=True`` enforces the precondition with one
    extra aggregate job and raises ``ValueError`` instead of silently
    returning wrong ``is_dup_copy`` values — use it when the id column
    is not known-unique by construction (the pipeline keys by url,
    which Common-Crawl-style inputs guarantee unique per capture).
    """
    if check_unique:
        chk = df.agg(F.count(F.lit(1)).alias("n"),
                     F.count_distinct(F.col(id_col)).alias("d")).first()
        if chk["n"] != chk["d"]:
            raise ValueError(
                f"exact_dedup requires unique non-null {id_col!r}: "
                f"{chk['n']} rows but {chk['d']} distinct ids")
    df = df.withColumn("text_sig",
                       text_signature(F.col(text_col), F.col(id_col)))
    keepers = (df.select(id_col, "text_sig")
               .groupBy("text_sig")
               .agg(F.min(id_col).alias("_keep_id")))
    return (df.join(keepers, "text_sig")
              .withColumn("is_dup_copy", F.col(id_col) != F.col("_keep_id"))
              .drop("text_sig", "_keep_id"))


def exact_dup_stats(df: DataFrame, group_cols: list[str],
                    text_col: str = "text") -> DataFrame:
    """Per-group duplicate tallies: total, distinct texts, dup rows."""
    return (df.groupBy(*group_cols)
              .agg(F.count(F.lit(1)).alias("total_rows"),
                   F.count_distinct(F.col(text_col)).alias("distinct_texts"))
              .withColumn("duplicate_rows",
                          F.col("total_rows") - F.col("distinct_texts")))


# ------------------------------------------------------------- shingles ---

def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-gram token shingles as an array<string> (row-local)."""
    toks = tokens(text)
    cnt = F.size(toks)
    starts = F.when(cnt >= n, F.sequence(F.lit(1), cnt - n + 1)) \
              .otherwise(F.array().cast("array<int>"))
    return F.array_distinct(F.transform(
        starts, lambda i: F.array_join(F.slice(toks, i, n), SHINGLE_SEP)))


def make_shingles_udf(n: int = 3):
    """Arrow-vectorized form of :func:`shingles` (same tokens, same
    separator, same distinct set — sorted for run-to-run determinism).

    Exists because the Column form's ``transform``/``slice``/
    ``array_join`` lambdas are interpreted expressions (HOFs never enter
    whole-stage codegen): measured 4.6s vs 0.3s for 260k shingles at
    local[32]. The Python tokenizer mirror is bit-parity-tested against
    the Column tokenizer (tests/test_dedup_similarity.py), and every
    consumer is order-insensitive (explode → groupBy), so the two forms
    are result-identical."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series([sorted(_py_shingles(t, n)) for t in texts],
                         dtype=object)
    return sh


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  min_num: int = 1, min_den: int = 2,
                  num_partitions: int | None = None,
                  max_shingle_df: int | None = None,
                  hash_postings: bool = False) -> DataFrame:
    """Exact n-gram Jaccard similar pairs with sim ≥ min_num/min_den.

    Plan: explode distinct shingles → inverted index → self-equi-join on
    shingle (only docs sharing ≥1 shingle ever meet) → count intersection
    → integer cross-multiplied threshold (no floats; bit-reproducible in
    a SQL oracle). Output: (id_a, id_b, intersection, size_a, size_b,
    union_size) with id_a < id_b.

    Scale: the join fans out quadratically in per-shingle document
    frequency — one stop-phrase shingle shared by d docs contributes
    d(d-1)/2 join rows. ``max_shingle_df`` caps that: shingles whose df
    exceeds the cap are dropped from the inverted index (the standard
    web-dedup mitigation; a shingle in >cap documents carries ~no
    similarity signal). The cap makes intersection counts conservative
    (union sizes still use full shingle sets), so reported similarity is
    a lower bound; leave it None for the exact/oracle semantics, set it
    for web-scale corpora — or use :func:`minhash_lsh_pairs`.

    ``hash_postings=True`` replaces each posting's shingle string with
    JVM-side ``xxhash64(shingle)`` before the exchange: the shuffled key
    shrinks from ~25 B of string to 8 B and the self-join compares
    longs, cutting exchange volume ~3x at corpus scale. Intersection
    counts are then exact only up to 64-bit collisions among the
    corpus's DISTINCT shingles (birthday bound: P(any collision) ≈
    U²/2⁶⁵ ≈ 3e-5 at U = 10⁹ distinct shingles, and a collision merely
    perturbs one intersection count by 1) — keep the default for the
    bit-exact/oracle semantics, turn it on for 100-TB runs where the
    postings exchange dominates.
    """
    base = df.select(F.col(id_col).alias("_id"),
                     F.col(text_col).alias("_text"))
    if num_partitions:
        # small single-file inputs read as ONE split; spread the
        # shingle computation and join across the cluster
        base = base.repartition(num_partitions, "_id")
    # Arrow-UDF shingling (result-identical to the Column form, ~15x
    # faster — see make_shingles_udf); the self-join's two sides share
    # one shuffle via ReusedExchange so shingles compute once per doc
    base = base.select("_id", make_shingles_udf(n)(F.col("_text"))
                       .alias("_sh"))
    # carry the set size on every posting: two extra longs per posting
    # buys us zero back-joins (and zero shingle recomputes) for sizes
    inv = base.select("_id", F.size("_sh").alias("_size"),
                      F.explode("_sh").alias("_s"))
    if hash_postings:
        # codegen'd long key before the exchange; see docstring
        inv = inv.withColumn("_s", F.xxhash64("_s"))
    if max_shingle_df is not None:
        # the hot set is tiny by construction (only df>cap shingles) →
        # broadcast anti-join, no extra data-side shuffle
        hot = (inv.groupBy("_s")
               .agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_shingle_df)
               .select("_s"))
        inv = inv.join(F.broadcast(hot), "_s", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    inter = (a.join(b, (F.col("a._s") == F.col("b._s"))
                    & (F.col("a._id") < F.col("b._id")))
             .groupBy(F.col("a._id").alias("id_a"),
                      F.col("b._id").alias("id_b"),
                      F.col("a._size").alias("size_a"),
                      F.col("b._size").alias("size_b"))
             .agg(F.count(F.lit(1)).alias("intersection")))
    union = F.col("size_a") + F.col("size_b") - F.col("intersection")
    return (inter.withColumn("union_size", union)
            .filter(F.col("intersection") * min_den
                    >= F.col("union_size") * min_num)
            .select("id_a", "id_b", "intersection",
                    "size_a", "size_b", "union_size"))


# -------------------------------------------------------------- minhash ---
#
# Signatures are computed in Arrow-batched pandas UDFs with numpy — NOT
# as JVM higher-order-function expressions. Measured on 5k docs:
# 64 x array_min(transform(...)) interpreted lambdas cost ~40 ms/doc
# (HOFs never enter whole-stage codegen); the vectorized double-hash
# (Carter-Wegman: perm_i(s) = h1(s) + i*h2(s) mod 2^64, h1/h2 = the two
# halves of md5) costs ~0.1 ms/doc and is deterministic everywhere.

# mirror the Column tokenizer (dq.textstats.tokens) EXACTLY:
# - Spark SQL trim strips U+0020 only (NOT String.trim's <=0x20 set) —
#   Python mirror is .strip(' ');
# - Java regex \s is ASCII-only ([ \t\n\x0B\f\r]); re.ASCII \s is the
#   identical set (Python's default Unicode \s would split NBSP etc.);
# - Spark split uses limit=-1 semantics: leading AND trailing empty
#   fields are kept, which re.split reproduces — a tab-leading doc
#   tokenizes to ['', ...] on BOTH paths.
_WS_RE = re.compile(r"\s+", re.ASCII)


def _py_tokens(text: str | None) -> list[str]:
    """Python mirror of ``dq.textstats.tokens``: NULL/blank → []."""
    if text is None or text.strip(" ") == "":
        return []
    return _WS_RE.split(text.strip(" "))


def _py_shingles(text: str | None, n: int) -> list[str]:
    """Python mirror of :func:`shingles` (same tokens, same separator)."""
    toks = _py_tokens(text)
    if len(toks) < n:
        return []
    return list({SHINGLE_SEP.join(toks[i:i + n])
                 for i in range(len(toks) - n + 1)})


def _md5_digests(items) -> "np.ndarray":
    """(len(items), 16) uint8 array of md5 digests — one bytes-join then
    one frombuffer (measured 3x faster than a per-item
    ``np.frombuffer``/row-assign loop; the md5 calls themselves are the
    irreducible floor)."""
    md5 = hashlib.md5
    buf = b"".join([md5(s.encode("utf-8")).digest() for s in items])
    return np.frombuffer(buf, dtype=np.uint8).reshape(-1, 16)


def _md5_u64_pairs(items) -> "np.ndarray":
    """(len(items), 2) uint64 array: the two halves of md5(item)."""
    return _md5_digests(items).view(np.uint64)


def make_minhash_udf(num_hashes: int = 64, n: int = 3):
    """Series[str] → Series[list[int64]] pandas UDF: minhash signature.

    Per text: shingle → one md5 per shingle → numpy broadcast
    ``(h1 + i*h2).min(axis=0)`` over all ``num_hashes`` permutations
    (uint64 wraparound, reinterpreted as int64 for the Spark column).
    Empty/NULL text → empty array.

    The md5 loop is the hot path, and web corpora repeat shingles
    heavily across documents (boilerplate, templates), so each DISTINCT
    shingle in the Arrow batch is hashed exactly once (pd.factorize —
    hash-based, no sort) and per-doc signatures gather from that table.
    Bit-identical to hashing per occurrence; memory stays bounded by
    the per-doc (s × num_hashes) temp, never a batch-wide matrix.
    """
    idx = np.arange(num_hashes, dtype=np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(texts: pd.Series) -> pd.Series:
        per_doc = [_py_shingles(t, n) for t in texts]
        flat = [s for doc in per_doc for s in doc]
        if flat:
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            h = _md5_u64_pairs(uniques)              # (U, 2), U = distinct
        out, pos = [], 0
        for doc in per_doc:
            if not doc:
                out.append([])
                continue
            hv = h[codes[pos:pos + len(doc)]]        # (s, 2)
            pos += len(doc)
            sig = (hv[:, 0:1] + idx[None, :] * hv[:, 1:2]).min(axis=0)
            out.append(sig.view(np.int64).tolist())
        return pd.Series(out, dtype=object)

    return minhash


def minhash_signature(text: Column, num_hashes: int = 64,
                      n: int = 3) -> Column:
    """Column form of the minhash signature (pandas-UDF-backed)."""
    return make_minhash_udf(num_hashes, n)(text)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 64,
                      bands: int = 16, n: int = 3,
                      num_partitions: int | None = None) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Signature of ``num_hashes`` minhashes split into ``bands`` bands of
    ``num_hashes // bands`` rows; docs agreeing on ALL rows of ≥1 band
    become a candidate pair. With r rows/band, P(candidate) ≈
    1-(1-s^r)^b — the classic S-curve (Mining of Massive Datasets §3.4).

    Plan shape: explode to (band_id, band_hash) keys → self-join on the
    band key → distinct pairs. Shuffle is O(docs × bands); within-bucket
    blowup is bounded by collision rate, and AQE skew-join splits any
    pathological bucket. Returns (id_a, id_b) with id_a < id_b, plus the
    estimated Jaccard from full-signature agreement.
    """
    rows = num_hashes // bands
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col))
    if num_partitions:
        # small single-file inputs read as ONE split; spread the
        # signature computation across the cluster
        base = base.repartition(num_partitions, "_id")
    base = (base.withColumn("_sig", make_minhash_udf(num_hashes, n)(
                F.col(text_col)))
                .select("_id", "_sig")
                .filter(F.size("_sig") > 0))
    bandkeys = base.select(
        "_id", "_sig",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*[F.col("_sig")[b * rows + r]
                                  for r in range(rows)]).alias("bh"))
            for b in range(bands)
        ])).alias("_bk"))
    a, b = bandkeys.alias("a"), bandkeys.alias("b")
    pairs = (a.join(b, (F.col("a._bk") == F.col("b._bk"))
                    & (F.col("a._id") < F.col("b._id")))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"),
                     F.col("a._sig").alias("_sa"),
                     F.col("b._sig").alias("_sb"))
             .dropDuplicates(["id_a", "id_b"]))
    est = (F.size(F.filter(F.zip_with("_sa", "_sb",
                                      lambda x, y: x == y),
                           lambda m: m))
           / F.lit(float(num_hashes)))
    return pairs.withColumn("est_jaccard", est).drop("_sa", "_sb")


# -------------------------------------------------------------- simhash ---

@F.pandas_udf(T.LongType())
def _simhash_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash (Charikar 2002): per token, md5-derived 64 bits;
    per bit, sum of ±1 votes (term frequency weights — duplicate tokens
    vote once per occurrence); fingerprint bit = (sum > 0). NULL/empty
    text → NULL. Each DISTINCT token in the Arrow batch is md5'd exactly
    once (natural-language token frequency is Zipfian, so distinct ≪
    total); per-doc votes gather the ±1 bit rows by factorized code,
    preserving multiplicity — bit-identical to hashing per occurrence."""
    per_doc = [_py_tokens(t) for t in texts]
    flat = [t for doc in per_doc for t in doc]
    if flat:
        codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
        raw = _md5_digests(uniques)[:, :8]           # first 8 digest bytes
        bits2 = 2 * np.unpackbits(raw, axis=1).astype(np.int32) - 1  # (U, 64)
    out, pos = [], 0
    for doc in per_doc:
        if not doc:
            out.append(None)
            continue
        votes = bits2[codes[pos:pos + len(doc)]].sum(axis=0)
        pos += len(doc)
        fp = np.packbits((votes > 0).astype(np.uint8))
        out.append(int(fp.view(">u8")[0].astype(np.uint64).view(np.int64)))
    return pd.Series(out, dtype=object)


def simhash64(text: Column) -> Column:
    """Column form of the SimHash fingerprint (pandas-UDF-backed)."""
    return _simhash_udf(text)


def with_simhash(df: DataFrame, text_col: str = "text",
                 out_col: str = "simhash") -> DataFrame:
    """Append the 64-bit SimHash fingerprint column."""
    return df.withColumn(out_col, simhash64(F.col(text_col)))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  max_hamming: int = 3,
                  num_partitions: int | None = None,
                  max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: split the 64-bit fingerprint into
    ``max_hamming + 1`` chunks; any pair within the distance budget must
    match exactly on at least one chunk (Manku et al., WWW'07). Join on
    (chunk_id, chunk_value), then verify with ``bit_count(xor)``.
    Shuffle is O(docs × chunks); the exact check is join-local.

    Scale: with k=3 the chunks are 16-bit → only 65,536 buckets per
    chunk table, so within-bucket candidate pairs grow ~n²/65k at
    web-corpus n. ``max_bucket_size`` bounds it: (chunk, value) buckets
    larger than the cap are dropped before the self-join (per Manku's
    practical tables — an over-full bucket means a degenerate
    fingerprint region, e.g. boilerplate, that exact dedup already
    catches upstream). Dropped buckets lose candidates (recall, not
    precision); leave None for exact/oracle semantics.
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col))
    if num_partitions:
        base = base.repartition(num_partitions, "_id")
    base = (base.withColumn("_fp", simhash64(F.col(text_col)))
            .select("_id", "_fp")
            .filter(F.col("_fp").isNotNull()))
    keyed = base.select("_id", "_fp", F.explode(F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftrightunsigned(F.col("_fp"), c * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("cv"))
        for c in range(chunks)
    ])).alias("_ck"))
    if max_bucket_size is not None:
        hot = (keyed.groupBy("_ck")
               .agg(F.count(F.lit(1)).alias("_n"))
               .filter(F.col("_n") > max_bucket_size)
               .select("_ck"))
        keyed = keyed.join(F.broadcast(hot), "_ck", "left_anti")
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp")))
    return (a.join(b, (F.col("a._ck") == F.col("b._ck"))
                   & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"]))


# ------------------------------------------------- connected components ---

def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Cluster the near-dup pair graph: ``(doc_id, cluster_id)`` where
    ``cluster_id`` is the minimum doc id in the connected component.

    The missing last step of every pair-producing dedup family above
    (Jaccard / MinHash-LSH / SimHash / embedding): near-dup relations are
    not transitive per-pair, but dedup policy is applied per CLUSTER —
    keep one representative per component, drop the rest (see
    :func:`drop_near_duplicates`). The reference stops at duplicate
    *counts* (core/quality_checks.py:861-883); a training-data pipeline
    needs the clusters.

    Algorithm: iterative min-label propagation ("hash-to-min" family,
    Rastogi et al., ICDE'13) expressed as DataFrame joins so every sweep
    is a shuffle-partitioned join + map-side-combined min-aggregate —
    no driver-side graph. Each sweep updates
    ``label(v) ← min(label(v), min over neighbors label(n))`` where the
    neighbor set includes the label edge ``v ↔ label(v)`` itself: once
    two vertices share a label the label vertex acts as a hub, so long
    chains collapse in ~O(log diameter) sweeps rather than O(diameter).
    LSH dedup components are near-cliques (diameter ≤ 2-3 typical), so
    2-3 sweeps converge in practice; ``max_iter`` only bounds
    pathological chain graphs.

    Scale notes: per sweep, lineage is truncated with an eager
    ``localCheckpoint`` — iterative self-joins otherwise compound the
    logical plan exponentially and re-execute every prior sweep.
    (``localCheckpoint`` stores blocks on executors; on a preemptible
    cluster use ``sparkContext.setCheckpointDir`` + ``checkpoint()``
    for a reliable store.) Convergence is detected with a count on the
    already-checkpointed frame, so each sweep costs exactly one join
    job. Checkpoint blocks of superseded sweeps are reclaimed by the
    ContextCleaner once the driver drops its reference (each loop
    iteration rebinds ``labels``, releasing the previous sweep's
    DataFrame → its JVM-side RDD becomes unreachable → weak-reference
    GC unpersists the blocks); ``DataFrame.unpersist()`` would NOT do
    it — it only uncaches CacheManager entries, not checkpoint RDDs.
    Worst-case storage between GC cycles is a few sweeps × O(|V|),
    bounded by the ~O(log diameter) sweep count. Only vertices
    appearing in ``pairs`` are returned — a vertex with no near-dup
    pair is trivially its own singleton cluster.

    Raises ``RuntimeError`` if not converged within ``max_iter`` sweeps
    (returning partially-propagated labels would silently split
    clusters).
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (edges.union(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
             .distinct()
             .localCheckpoint(eager=True))
    # sweep 0 folded into initialization: label₀(v) = min(v, N(v)) via
    # the map-side-combined min-agg alone (no join needed yet — every
    # vertex's own id is its starting label). Checkpointed: sweep 1
    # references it four times (both hub-edge arms, the nbr join, and
    # the nxt join) and would otherwise re-run the aggregate per use.
    labels = (edges.groupBy(F.col("src").alias("v"))
              .agg(F.min("dst").alias("_nmin"))
              .select("v", F.least("v", "_nmin").alias("comp"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        # label edges (v ↔ comp) act as hub shortcuts; self-loops
        # add nothing and are dropped before the union
        lbl = labels.filter(F.col("v") != F.col("comp"))
        e = edges.unionByName(
            lbl.select(F.col("v").alias("src"),
                       F.col("comp").alias("dst"))
        ).unionByName(
            lbl.select(F.col("comp").alias("src"),
                       F.col("v").alias("dst"))
        )
        nbr = (e.join(labels.select(F.col("v").alias("dst"),
                                    F.col("comp").alias("_nc")), "dst")
               .groupBy("src").agg(F.min("_nc").alias("_nmin")))
        nxt = (labels.join(nbr.select(F.col("src").alias("v"), "_nmin"),
                           "v", "left")
               .select("v",
                       F.least("comp", F.coalesce("_nmin", "comp"))
                       .alias("comp"),
                       (F.coalesce("_nmin", "comp") < F.col("comp"))
                       .cast("long").alias("_chg"))
               .localCheckpoint(eager=True))
        changed = nxt.agg(F.sum("_chg")).first()[0] or 0
        # rebinding `labels` drops the last reference to sweep k-1's
        # frame — ContextCleaner reclaims its checkpoint blocks (see
        # docstring; an explicit unpersist() would be a no-op here)
        labels = nxt.drop("_chg")
        if changed == 0:
            # the returned plan reads only the final checkpoint's
            # blocks (lineage truncated); everything else can go
            return labels.select(F.col("v").alias("doc_id"),
                                 F.col("comp").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} sweeps")


def drop_near_duplicates(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         id_a: str = "id_a", id_b: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Keep one representative (the minimum id) per near-dup cluster.

    Composition of :func:`connected_components` + left-anti join: every
    row of ``df`` whose id is a non-representative member of some
    cluster is dropped; representatives and singletons (ids in no pair)
    pass through unchanged. Deterministic: the survivor of a cluster is
    always its lexicographically smallest id.
    """
    cc = connected_components(pairs, id_a=id_a, id_b=id_b,
                              max_iter=max_iter)
    losers = (cc.filter(F.col("doc_id") != F.col("cluster_id"))
              .select(F.col("doc_id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")
