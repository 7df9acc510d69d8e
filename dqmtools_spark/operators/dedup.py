"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-conscious:

- exact:     hash-groupBy on md5(text) — one exchange.
- n-gram Jaccard: exact word-shingle similarity for candidate pairs.
- MinHash+LSH: shingles → k minhashes → b bands → bucket self-join →
  Jaccard verify.  The self-join is banded, so the shuffle key is
  (band, bucket-hash): at 100 TB no all-pairs blowup, and hot buckets
  split under AQE skew-join.
- SimHash:   64-bit signature (numpy inside a pandas UDF), Hamming
  candidates via 4x16-bit band pigeonhole, verified with bit_count.

Everything is deterministic (seeded hash families), so dedup decisions
are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dqmtools_spark.sqltext import sql_ident, sql_str

# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative of every identical text.

    One hash exchange on md5(text); min() is a map-side-combinable agg.
    """
    h = F.md5(F.col(text_col)).alias("_h")
    keep_ids = (
        df.select(h, F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep_ids, on=id_col, how="left_semi")


# ------------------------------------------------------------- shingles


def _sql_of(col: F.Column | str) -> str:
    """SQL text of a column argument: a name comes back backquoted; a
    Column renders as its own SQL, so it must be one whose SQL form
    parses back (``F.col("text")``, ``F.lower("text")``)."""
    if isinstance(col, str):
        return sql_ident(col)
    return col._jc.toString()


def _word_shingles_sql(text: str, n: int, strict: bool, distinct: bool) -> str:
    """SQL text of :func:`word_shingles` over the SQL expression ``text``."""
    words = rf"filter(split({text}, '\\s+'), _sh_w -> _sh_w != '')"
    hi = f"size({words}) - {n - 1}"
    if not strict:
        hi = f"greatest({hi}, 1)"
    # sequence(1, 0) DESCENDS in Spark — an empty index list needs an
    # explicit guard for the strict short-doc case
    grams = (
        f"transform(CASE WHEN {hi} >= 1 THEN sequence(1, {hi}) "
        f"ELSE CAST(array() AS array<int>) END, "
        f"_sh_i -> concat_ws(' ', slice({words}, _sh_i, {n})))"
    )
    if distinct:
        grams = f"array_distinct({grams})"
    return f"CASE WHEN {text} IS NOT NULL THEN {grams} END"


def word_shingles(
    text: F.Column | str, n: int = 3, strict: bool = False, distinct: bool = True
) -> F.Column:
    """Word n-grams (array<string>; ``distinct=False`` keeps every
    occurrence — repetition-counting consumers need multiplicity).
    ``text`` is a column name or a Column (see :func:`_sql_of`).

    Tokens are the \\S+ runs — empty strings from leading/trailing
    whitespace of ANY kind are dropped (``trim`` alone strips only
    spaces, so a newline-terminated doc would otherwise grow a phantom
    '' token and a bogus trailing-space gram that no SQL oracle
    reproduces).  ``strict=False``: docs shorter than n words fall back
    to their full token window so they still participate in
    similarity-style consumers.  ``strict=True``: such docs yield NO
    grams — the right contract for n-gram OVERLAP semantics
    (decontamination), where "shares an n-gram" must mean n real words.
    NULL text -> NULL (a null doc must never pair).  Built as ONE SQL
    expression: as Column calls it cost ~110 Py4J round trips."""
    return F.expr(_word_shingles_sql(_sql_of(text), n, strict, distinct))


def word_shingle_hashes(text: F.Column | str, n: int = 3) -> F.Column:
    """Distinct 64-bit hashes of word n-grams (array<long>).

    Built by zip_with-chaining the word array against its own 1..n-1
    shifted slices (``h = xxhash64(xxhash64(w_i, w_{i+1}), w_{i+2})``)
    — ~4.5x cheaper than the slice+concat_ws string build of
    :func:`word_shingles`, because no per-position indexing and no
    string allocation happen; downstream set ops then compare longs,
    not strings.  Jaccard over hashed shingles equals Jaccard over the
    strings up to 64-bit collisions (negligible at any realistic
    shingle count).  Docs shorter than n words hash their full
    (null-padded) token window so they still participate.  ``text`` is
    a column name or a Column; the build is one SQL expression (as
    Column calls it cost ~170 Py4J round trips).
    """
    words = rf"split(trim({_sql_of(text)}), '\\s+')"
    acc = f"transform({words}, _sh_w -> xxhash64(_sh_w))"
    for j in range(1, n):
        shifted = f"slice({words}, {j + 1}, greatest(size({words}) - {j}, 0))"
        acc = f"zip_with({acc}, {shifted}, (_sh_h, _sh_w) -> xxhash64(_sh_h, _sh_w))"
    return F.expr(
        f"array_distinct(slice({acc}, 1, greatest(size({words}) - {n - 1}, 1)))"
    )


def portable_shingle_hashes(
    text: F.Column | str, n: int, strict: bool = False, distinct: bool = True
) -> F.Column:
    """Engine-portable hashed word n-grams: md5_hash60(shingle) mod p
    (array<long>) — the ONE definition of the oracle-checkable shingle
    hash family, shared by the md5 MinHash tier, decontamination and
    the repeated-span operators (``distinct=False`` keeps one hash per
    gram position)."""
    from dqmtools_spark.functions.hashing import P31, md5_hash60_expr

    grams = _word_shingles_sql(_sql_of(text), n, strict, distinct)
    hashes = f"transform({grams}, _sh_s -> {md5_hash60_expr('_sh_s')} % {P31})"
    return F.expr(f"array_distinct({hashes})" if distinct else hashes)


def jaccard(a: str, b: str) -> str:
    """Exact Jaccard over two array columns (distinct semantics), as
    the SQL text of an expression over the columns named ``a`` and ``b``."""
    union = f"size(array_union({a}, {b}))"
    return (
        f"CASE WHEN {union} = 0 THEN 0.0D "
        f"ELSE CAST(size(array_intersect({a}, {b})) AS DOUBLE) / {union} END"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard >= threshold (id_a < id_b).

    Quadratic — only for small/verification inputs; the scale path is
    :func:`minhash_lsh_pairs`, which calls the same verify.
    """
    s = df.select(
        F.col(id_col).alias("id_a"), word_shingles(text_col, n).alias("sh_a")
    )
    t = df.select(
        F.col(id_col).alias("id_b"), word_shingles(text_col, n).alias("sh_b")
    )
    pairs = s.join(t, F.col("id_a") < F.col("id_b"))
    return pairs.selectExpr(
        "id_a", "id_b", f"{jaccard('sh_a', 'sh_b')} AS jaccard"
    ).filter(f"jaccard >= {float(threshold)!r}D")


# ---------------------------------------------------------- MinHash LSH


def minhash_signature(shingles: F.Column, num_hashes: int = 32) -> F.Column:
    """array<long> of per-seed min-hashes as a column expression:
    min(xxhash64(shingle, seed_i)) per i.  Empty shingle set -> nulls.

    NOTE: array HOFs are interpreted (not codegen) — this form is for
    composing into other expressions; the pipeline path uses
    :func:`minhash_signatures` (explode + hash-aggregate), which
    produces identical values ~5x faster."""
    sig = F.array(
        *[
            F.array_min(
                F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i)))
            )
            for i in range(num_hashes)
        ]
    )
    # null/empty shingle set -> null signature (NOT a constant): all
    # degenerate docs sharing one signature would flood a single LSH
    # bucket with an O(m^2) candidate blowup
    return F.when(F.size(shingles) > 0, sig)


def minhash_signatures(
    shingled: DataFrame,
    id_col: str,
    sh_col: str,
    num_hashes: int = 32,
    seed_hash=None,
) -> DataFrame:
    """(id, shingles) -> (id, sig array<long>) via explode + groupBy-min.

    Default hash family: :func:`minhash_signature`'s (xxhash64 over the
    (shingle, i) tuple), so signatures are bit-identical — including the
    null-signature contract for null/empty shingle sets (explode_outer
    keeps the doc's row but the guarded hash yields no values, so every
    min is null and the signature folds to null; without the guard,
    ``xxhash64(null, seed)`` hashes the seed alone and all degenerate
    docs share one constant signature, flooding a single LSH bucket).
    ``seed_hash(s, i) -> str`` swaps the family: it returns the SQL text
    of seed ``i``'s hash of the shingle expression ``s`` (the md5 tier
    passes Carter–Wegman arithmetic over pre-hashed shingles).
    The 32 mins run as ONE whole-stage-codegen hash aggregate instead
    of 32 interpreted array passes, and the aggregate goes in as one
    SQL expression: built from Column calls it costs a few Py4J round
    trips per min.  Scale shape: a doc's shingles sit in one input row,
    so map-side partial aggregation collapses back to one row per doc
    before the exchange — the shuffle is O(docs), not O(shingles)."""
    fam = seed_hash or (lambda s, i: f"xxhash64({s}, {i})")
    mins = [
        f"min(CASE WHEN _s IS NOT NULL THEN {fam('_s', i)} END)"
        for i in range(num_hashes)
    ]
    sig = f"CASE WHEN {mins[0]} IS NOT NULL THEN array({', '.join(mins)}) END"
    return (
        shingled.selectExpr(f"`{id_col}`", f"explode_outer(`{sh_col}`) AS _s")
        .groupBy(id_col)
        .agg(F.expr(sig).alias("_sig"))
    )


def _parallelize_input(df: DataFrame) -> DataFrame:
    """Small-scan guard for explode-heavy operators: a tiny
    single-row-group parquet (or any source with fewer splits than the
    cluster has slots) would run the expensive per-doc map work
    (tokenize / shingle / hash / explode) nearly single-threaded —
    measured 4-5s single-core vs sub-second spread on the sf0.1
    documents table.  Repartition up to defaultParallelism first: at
    production scale inputs carry >= cluster-slots splits and this is
    a NO-OP (no exchange inserted); on small inputs the shuffle it
    inserts moves only the raw pre-explode rows.  Streaming frames
    pass through untouched (their micro-batch partitioning is the
    source's concern)."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _finish_eager(out: DataFrame, helpers: list[DataFrame]) -> DataFrame:
    """Cache-hygiene epilogue for the LSH pair functions: materialize
    the (small) pair result into its own cache, then unpersist every
    intermediate helper frame (shingle/signature tables, O(docs)-sized)
    so repeated dedup passes in a long-lived session do not accumulate
    pinned blocks.  The caller owns the returned frame's cache —
    ``out.unpersist()`` when done leaves the session cache empty
    (asserted by ``tests/test_cache_hygiene.py``)."""
    from pyspark import StorageLevel

    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    for h in helpers:
        h.unpersist()
    return out


def _lsh_band_verify(
    base: DataFrame,
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    hash_buckets: bool,
) -> DataFrame:
    """Shared LSH core: band the signatures, self-join on the band
    bucket, verify candidates with exact Jaccard over the shingle sets.

    ``base`` = (_id, _sh) shingle table (persisted by the caller —
    verify reads it twice); ``sigs`` = (_id, _sig) with null signatures
    already filtered, persisted by the caller (both sides of the banded
    self-join read it — without a persist the minhash aggregate runs
    twice).  ``hash_buckets=True`` joins on
    ``xxhash64(slice)`` (compact shuffle key, Spark-only);
    ``False`` joins on the raw slice (array equi-join — exactly "some
    band agrees", reproducible in oracle SQL).  Both are equi-joins:
    never cartesian, AQE splits hot buckets.  Band structs, join
    condition and Jaccard are SQL text, one Py4J call each.
    """
    rows_per_band = num_hashes // bands
    vals = [
        f"slice(_sig, {b * rows_per_band + 1}, {rows_per_band})" for b in range(bands)
    ]
    if hash_buckets:
        vals = [f"xxhash64({v})" for v in vals]
    structs = ", ".join(
        f"named_struct('band', {b}, 'val', {v})" for b, v in enumerate(vals)
    )
    banded = sigs.selectExpr("_id", f"inline(array({structs}))")

    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            F.expr("l.band = r.band AND l.val = r.val AND l._id < r._id"),
        )
        .selectExpr("l._id AS id_a", "r._id AS id_b")
        .distinct()
    )

    return (
        cand.join(base.selectExpr("_id AS id_a", "_sh AS sh_a"), "id_a")
        .join(base.selectExpr("_id AS id_b", "_sh AS sh_b"), "id_b")
        # raw, not rounded: one exact int/int division is bit-identical
        # in every engine, so an oracle needs no rounding fuzz
        .selectExpr("id_a", "id_b", f"{jaccard('sh_a', 'sh_b')} AS jaccard")
        .filter(f"jaccard >= {float(threshold)!r}D")
    )


def minhash_bands_for_recall(
    threshold: float, rows_per_band: int, target_recall: float = 0.9
) -> int:
    """MinHash band count: a pair at Jaccard exactly ``threshold``
    agrees on one minhash with probability s = threshold, so the
    shared OR-construction rule
    (:func:`~dqmtools_spark.operators.similarity.or_construction_bands`)
    applies with p = s.  The default production parameters (b=8, r=4)
    give measured recall 0.567/0.800/0.983/1.0/1.0 across Jaccard
    0.5..1.0 buckets (BENCH §14, tracking this formula); to dedup
    aggressively at a LOWER threshold raise b (more parallel OR-trials;
    num_hashes = b*r grows with it), never lower the verify
    threshold."""
    from dqmtools_spark.operators.similarity import or_construction_bands

    return or_construction_bands(threshold, rows_per_band, target_recall)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    persist_shingles: bool = True,
    eager: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    bands=8 x rows=4 over 32 hashes -> collision prob ~ s^4 per band;
    s=0.8 gives ~97% recall.  Shuffle plan: one exchange to bucket-join
    on (band, band_hash), one to verify (shingles re-joined by id).
    Null signatures (null/empty shingle set) are dropped BEFORE banding
    — a null slice would hash to a constant bucket and pair every
    degenerate doc with every other.

    PERSISTS the shingle table (unless ``persist_shingles=False``) and
    the signature table (O(docs)-sized) for the duration of the
    returned frame's computation.  ``eager=True`` materializes the
    (small) pair result into its own cache and unpersists both helpers
    before returning — the hygienic form for long-lived sessions; the
    caller unpersists the result when done.  ``eager=False`` leaves the
    helpers pinned until ``spark.catalog.clearCache()`` (lazy plan
    shape, used by plan audits).
    """
    from pyspark import StorageLevel

    df = _parallelize_input(df)
    base = df.select(
        F.col(id_col).alias("_id"),
        word_shingle_hashes(text_col, n).alias("_sh"),
    )
    helpers = []
    if persist_shingles:
        # the shingle table feeds three consumers (signatures + both
        # sides of the verify join); persisting trades memory/disk for
        # 2 recomputes of the shingling pass over the corpus
        base = base.persist(StorageLevel.MEMORY_AND_DISK)
        helpers.append(base)
    sigs = minhash_signatures(base, "_id", "_sh", num_hashes).filter(
        "_sig IS NOT NULL"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    helpers.append(sigs)
    out = _lsh_band_verify(
        base, sigs, num_hashes, bands, threshold, hash_buckets=True
    )
    return _finish_eager(out, helpers) if eager else out


def minhash_lsh_pairs_md5(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    eager: bool = False,
) -> DataFrame:
    """Oracle-checkable MinHash LSH: identical banding/verify shape to
    :func:`minhash_lsh_pairs`, but every hash is engine-portable so a
    DuckDB differential oracle can verify the FULL output:

    - shingle hash: ``md5_hash60(shingle) mod p`` (md5 is bit-identical
      in every engine; see ``functions/hashing.py``),
    - per-seed minhash: Carter–Wegman ``(a_i*x + b_i) mod p`` — pure
      exact int64 arithmetic,
    - band bucket: the raw slice of the signature array as the join
      key (array equi-join) — no bucket-hash, so candidate semantics
      are exactly "some band agrees", reproducible as
      ``sig_a[lo:hi] = sig_b[lo:hi] OR ...`` in SQL,
    - verify: exact Jaccard over the hashed shingle sets (integer set
      ops; the emitted double is one exact division).

    Same scale shape as the xxhash64 tier — both are thin wrappers over
    the shared :func:`_lsh_band_verify` core (signatures via ONE
    codegen hash aggregate in :func:`minhash_signatures`, banded
    equi-join, no all-pairs path).  ~2x more per-row hash cost than
    xxhash64 (md5) — the xxhash64 tier remains the default at scale;
    this tier is the verifiable one.

    PERSISTS the shingle and signature tables; ``eager=True`` swaps
    them for a cache of the (small) pair result before returning (see
    :func:`minhash_lsh_pairs`).
    """
    from pyspark import StorageLevel

    from dqmtools_spark.functions.hashing import P31, universal_hash_consts

    consts = universal_hash_consts(num_hashes)
    df = _parallelize_input(df)
    sh = portable_shingle_hashes(text_col, n)
    base = df.select(F.col(id_col).alias("_id"), sh.alias("_sh")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cw = lambda s, i: f"({consts[i][0]} * {s} + {consts[i][1]}) % {P31}"  # noqa: E731
    sigs = minhash_signatures(base, "_id", "_sh", num_hashes, seed_hash=cw).filter(
        "_sig IS NOT NULL"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    out = _lsh_band_verify(
        base, sigs, num_hashes, bands, threshold, hash_buckets=False
    )
    return _finish_eager(out, [base, sigs]) if eager else out


def connected_components(
    pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """(id_a, id_b) edges -> (id, component) with component = smallest
    id reachable — transitive closure of the near-dup relation.

    Iterative min-label propagation (the standard large-graph CC on
    Spark): each round every node adopts the minimum label in its
    closed neighborhood; converges in O(diameter) rounds — near-dup
    clusters are shallow (dozens of docs, diameter ~2-4).
    Deterministic: labels are ids, min is order-free.

    The edge list is built ONCE: both orientations plus a self-loop
    per endpoint (the closed neighborhood), no ``distinct`` — min is
    idempotent, so duplicated and reversed edges cost rows, not
    correctness.  It is coalesced to ``defaultParallelism`` partitions
    and ``localCheckpoint``-ed (1 job): a tiny input frame keeps
    whatever partitioning it had — a pair frame cached without
    ``get_spark``'s cached-plan coalescing holds
    ``spark.sql.shuffle.partitions`` partitions however few its rows,
    and AQE only coalesces shuffle output, not a scan — so without
    the coalesce every round would run a task per empty partition.

    Round 1 is one aggregate, ``groupBy(src).min(dst)``, with no join
    (every label starts as its own id).  Each later round is one join
    of the edges with the previous labels plus one aggregate that
    yields both the new label (min over the closed neighborhood) and
    the old one (read from the self-loop row).  The number of changed
    labels rides the round's own ``localCheckpoint`` as an
    ``Observation``, so convergence costs no extra job and the
    checkpoint cuts the lineage.  A round is 2-3 jobs (aggregate
    shuffle stage, broadcast or join shuffle, result): clusters that
    are pairs or cliques (diameter 1) finish in 2 rounds, 6 jobs in
    all, and each further hop of diameter adds one round.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iters`` rounds (a silent partial result would keep multiple
    representatives of one cluster downstream); long chains at corpus
    scale need a larger ``max_iters``.
    """
    from pyspark.sql import Observation

    a, b = F.col("id_a"), F.col("id_b")
    # both orientations, then a self-loop per endpoint
    ends = [(a, b), (b, a), (a, a), (b, b)]
    edges = (
        pairs.select(
            F.inline(
                F.array(*[F.struct(s.alias("src"), d.alias("dst")) for s, d in ends])
            )
        )
        .coalesce(pairs.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    # round 1: every label is still its own id, so no join
    step = edges.withColumn("component", F.col("dst"))
    for _ in range(max_iters):
        obs = Observation()
        updated = (
            step.groupBy("src")
            .agg(
                F.min("component").alias("component"),
                F.max(
                    F.when(F.col("src") == F.col("dst"), F.col("component"))
                ).alias("_old"),
            )
            .observe(
                obs,
                F.count_if(F.col("component") != F.col("_old")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = updated.select(F.col("src").alias("id"), "component")
        if obs.get["changed"] == 0:
            return labels
        step = edges.join(labels, edges["dst"] == labels["id"])
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds; "
        "a component's diameter exceeds max_iters — raise max_iters"
    )


# a pair list of at most this many rows is clustered on the driver (see
# drop_duplicate_clusters).  Timed on 4 cores, the driver path wins up
# to 10k pair rows and loses from 20k, where planning the long NOT IN
# list outweighs the distributed path's jobs (table in CHANGES.md)
DRIVER_CLUSTER_BOUND = 10_000


def _driver_orderable(t: T.DataType) -> bool:
    """Whether Python orders collected values of ``t`` as Spark does:
    ints do, and so do default-collation strings (UTF-8 byte order is
    code-point order)."""
    return isinstance(t, T.IntegralType) or t == T.StringType()


def _union_find_losers(edges) -> list:
    """Ids that are not their cluster's minimum, by union-find over the
    (id_a, id_b) rows with the smaller root winning.  An edge with a
    NULL end joins nothing, as in :func:`connected_components`, whose
    label join never matches a NULL."""
    parent: dict = {}

    def find(x):
        while x in parent:
            up = parent[x]
            if up in parent:  # path halving
                parent[x] = up = parent[up]
            x = up
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        lo, hi = sorted((find(a), find(b)))
        if lo != hi:
            parent[hi] = lo
    return list(parent)


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return sql_str(v)
    return str(int(v))


def drop_duplicate_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str, max_iters: int = 20
) -> DataFrame:
    """Keep exactly one representative (the smallest id) per duplicate
    CLUSTER (transitively: a chain a~b, b~c is one cluster).  Rows with
    a NULL id are kept.

    A pair list of at most ``DRIVER_CLUSTER_BOUND`` rows with integral
    or string ids is finished on the driver: one job collects it (at
    most bound + 1 rows, so a large list costs a bounded read), a
    union-find labels each cluster with its minimum id, and ``df`` comes
    back behind ONE SQL-text filter, ``id IS NULL OR id NOT IN
    (losers)`` — no join, no further job.  Larger lists, and id types
    whose Python order is not Spark's, take the distributed
    :func:`connected_components` plus a ``left_anti`` join; ``max_iters``
    applies only there."""
    id_types = [pairs.schema[c].dataType for c in ("id_a", "id_b")]
    if all(map(_driver_orderable, id_types)):
        rows = pairs.select("id_a", "id_b").limit(DRIVER_CLUSTER_BOUND + 1).collect()
        if len(rows) <= DRIVER_CLUSTER_BOUND:
            losers = _union_find_losers(rows)
            if not losers:
                return df
            col = _sql_of(id_col)
            ids = ", ".join(map(_sql_literal, losers))
            return df.filter(f"{col} IS NULL OR {col} NOT IN ({ids})")
    comp = connected_components(pairs, max_iters)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# -------------------------------------------------------------- SimHash

_SIMHASH_SCHEMA = T.LongType()


@F.pandas_udf(_SIMHASH_SCHEMA)
def simhash64_udf(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (md5-derived token hashes,
    numpy bit-vote — vectorized per document, deterministic)."""
    import hashlib

    import numpy as np

    def sim(t: str | None) -> int | None:
        if t is None:
            return None
        toks = t.lower().split()
        if not toks:
            return 0
        hs = np.array(
            [
                int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "big")
                for w in set(toks)
            ],
            dtype=np.uint64,
        )
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
        votes = (2 * bits - 1).sum(axis=0)
        val = int(((votes >= 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
        # reinterpret as signed 64-bit for Spark LongType
        return val - (1 << 64) if val >= (1 << 63) else val

    return text.map(sim)


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """(id, text) -> (id, sig) n_bits-bit SimHash, entirely JVM-side.

    Same explode + hash-aggregate shape as :func:`minhash_signatures`:
    distinct token hashes explode to rows, ``n_bits`` per-bit vote sums
    run as ONE whole-stage-codegen aggregate (map-side partials
    collapse back to one row per doc before the exchange), and the
    signature assembles with a bitwiseOR chain.  Vote semantics match
    :func:`simhash64_udf` (tie -> bit set; empty token set -> 0;
    null text -> null).

    ``token_hash`` picks the token hash family: default ``xxhash64``
    (fastest, Spark-only); pass ``hashing.md5_hash60`` with
    ``n_bits=60`` for the engine-portable family a DuckDB oracle can
    reproduce bit-for-bit.
    """
    hash_fn = token_hash or F.xxhash64
    df = _parallelize_input(df)
    words = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda w: w != ""
    )  # split("") yields [""] — drop it so empty text means zero tokens
    toks = F.array_distinct(F.transform(words, lambda w: hash_fn(w)))
    ex = df.select(
        F.col(id_col),
        F.col(text_col).isNotNull().alias("_has"),
        F.explode_outer(toks).alias("_h"),
    )
    # per-bit vote sum(+1/-1 over tokens) = 2*sum(bit_i) - n_tokens, so
    # aggregating the raw bit (one shift+and per bit, no CASE) and
    # comparing 2*s_i >= n gives bit-identical signatures at about half
    # the per-row expression cost of the +-1 CASE form.  The n_bits sums
    # ride one array and the OR chain is one expression, both SQL text:
    # a Column call per bit costs Py4J round trips per bit
    votes = ", ".join(f"sum(shiftrightunsigned(_h, {i}) & 1L)" for i in range(n_bits))
    agg = ex.groupBy(id_col).agg(
        F.max("_has").alias("_has"), F.count("_h").alias("_n"), F.expr(f"array({votes}) AS _v")
    )
    sig = " | ".join(
        f"CASE WHEN _v[{i}] * 2 >= _n THEN shiftleft(1L, {i}) ELSE 0L END" for i in range(n_bits)
    )
    return agg.selectExpr(
        _sql_of(id_col),
        f"CASE WHEN NOT _has THEN CAST(NULL AS BIGINT) WHEN _n = 0 THEN 0L ELSE {sig} END AS _sig",
    )


def band_boundaries(n_bits: int, n_bands: int) -> list[tuple[int, int]]:
    """Partition bit positions [0, n_bits) into ``n_bands`` contiguous
    (offset, width) bands; the first ``n_bits % n_bands`` bands get the
    extra bit.  Together the bands cover every bit exactly once — the
    pigeonhole precondition."""
    base, extra = divmod(n_bits, n_bands)
    out, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_bands: int | None = None,
    n_bits: int = 64,
    token_hash=None,
    eager: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole banding: with ``n_bands > max_hamming`` bands partitioning
    the signature's bits, any pair within Hamming ``max_hamming`` has at
    least one band with zero differing bits, so it agrees exactly on
    that band — candidates come from ``n_bands`` band-equijoins (shuffle
    on the band value), then bit_count verifies.  No all-pairs
    comparison, and recall is exactly 1.0 (every <=max_hamming pair is
    emitted).  ``n_bands`` defaults to ``max(4, max_hamming + 1)``; an
    explicit smaller value raises, because ``n_bands <= max_hamming``
    silently loses the recall guarantee.
    """
    if n_bands is None:
        n_bands = max(4, max_hamming + 1)
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} <= max_hamming={max_hamming}: pigeonhole "
            "recall guarantee requires n_bands > max_hamming"
        )
    sig = simhash_signatures(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)),
        "_id",
        text_col,
        n_bits=n_bits,
        token_hash=token_hash,
    )
    # the signature table feeds BOTH sides of the banded self-join;
    # without a persist the token-explode + n_bits-sum aggregate runs
    # twice.  The cached table is O(docs x 8B) — negligible at any
    # scale next to recomputing the signature pass.  eager=True swaps
    # it for a cache of the (small) pair result before returning.
    from pyspark import StorageLevel

    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    bounds = band_boundaries(n_bits, n_bands)
    bands = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("_sig"), off)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for b, (off, width) in enumerate(bounds)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_sig", "_b.band", "_b.val")

    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._sig").alias("sig_a"),
            F.col("r._sig").alias("sig_b"),
        )
        .distinct()
    )
    out = (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return _finish_eager(out, [sig]) if eager else out


# -------------------------------------- cross-doc repeated n-gram spans


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_docs: int = 2,
    persist_grams: bool = True,
    eager: bool = False,
) -> DataFrame:
    """ExactSubstr-style repeated-span SIGNAL (Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better", the
    n-gram-hash approximation of its suffix-array substring dedup):
    per document, how many of its ``n``-word gram POSITIONS (with
    multiplicity) carry a gram that also occurs in at least
    ``min_docs`` DISTINCT documents corpus-wide.

    Output: (id, n_grams, n_dup_grams, dup_fraction) — the fraction a
    repeated-span filter thresholds on.  Docs with fewer than ``n``
    words emit no grams and no row (strict contract, same as
    decontamination's).

    Plan shape at scale: gram hashes are computed map-side
    (:func:`word_shingles` strict + multiplicity, md5/mod-p portable
    family — the ONE oracle-checkable hash family); the corpus-wide
    exchange carries (gram, doc) pairs ONCE for the distinct-doc
    count (same O(corpus grams) class as :func:`global_line_dedup`,
    AQE splits hot grams) and the hot-gram set comes back as a
    broadcast-able join on the gram key — never a cartesian.  The
    per-doc totals aggregate map-side.

    The gram table feeds exactly TWO consumers — the corpus-wide
    distinct-doc count and a single marker-join + per-doc aggregate
    that produces ``n_grams`` and ``n_dup_grams`` in ONE pass (a
    left join to the hot set followed by ``count`` /
    ``count(marker)``, instead of separate total/dup aggregates that
    would scan the corpus a third time).  ``persist_grams`` trades
    memory/disk for recomputing the tokenize+hash pass for the second
    consumer — same discipline as ``persist_shingles`` in
    :func:`minhash_lsh_pairs`; ``eager=True`` materializes the (small,
    one-row-per-doc) result and unpersists the gram table.  As with
    the LSH ops, ``eager=False`` with ``persist_grams=True`` leaves the
    helper pinned until ``spark.catalog.clearCache()`` — in a
    long-lived session either pass ``eager=True`` or
    ``persist_grams=False``.
    """
    from pyspark import StorageLevel

    df = _parallelize_input(df)
    grams = df.select(
        F.col(id_col),
        F.explode(
            portable_shingle_hashes(text_col, n, strict=True, distinct=False)
        ).alias("gh"),
    )
    helpers = []
    if persist_grams:
        grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
        helpers.append(grams)
    hot = (
        grams.dropDuplicates([id_col, "gh"])
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("gh", F.lit(1).alias("_hot"))
    )
    out = (
        grams.join(hot, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.col("_hot")).alias("n_dup_grams"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6),
        )
    )
    return _finish_eager(out, helpers) if eager else out


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_docs: int = 2,
    min_span_chars: int = 0,
    persist_covered: bool = True,
    persist_grams: bool = True,
    eager: bool = False,
) -> DataFrame:
    """ExactSubstr-style repeated-span REMOVAL (the rewrite step of Lee
    et al. 2022 that :func:`duplicated_ngram_spans` only scores): drop
    every token position covered by a hot ``n``-gram (one carried by
    >= ``min_docs`` DISTINCT documents) and rebuild the text from the
    surviving tokens.  The rebuild is token-level — surviving tokens
    are re-joined with single spaces, so runs of whitespace normalize
    (web corpora after extraction are single-spaced; the byte-identity
    contract belongs to scrub, not to span removal).

    Output, one row per non-null-text doc: (id, n_tokens, n_removed,
    removed_fraction, clean_text).  Docs with < ``n`` words emit no
    grams and pass through unchanged; a fully-duplicated doc comes
    back with ``clean_text = ''``.

    ``min_span_chars`` > 0 enables MAXIMAL-span semantics (the actual
    Lee et al. 2022 rule — they remove duplicated substrings of
    >= 50 chars): adjacent/overlapping hot-gram token positions merge
    into maximal spans (gaps-and-islands over covered positions), and
    only spans whose rejoined char length (token lengths + single-space
    gaps) reaches the threshold are removed — two short scattered
    n-grams no longer count as duplication, a long boilerplate run
    does.  The default 0 removes every covered position (fixed-n gram
    coverage) with no extra shuffle.

    Plan shape at scale: the hot-gram detection is the SAME
    O(corpus grams) exchange as the signal op.  The expensive part —
    exploding tokens to rebuild text — runs ONLY for documents that
    actually contain a duplicated span (a semi-join routes them);
    clean documents re-join their token array map-side with zero extra
    shuffle.  On web corpora where a few percent of docs carry
    boilerplate spans, the rebuild shuffle is a few percent of corpus
    tokens, not all of them.

    ``covered`` (the O(dup tokens) hot-position table, small relative
    to the corpus) feeds three consumers (the dup-doc router's semi and
    anti sides plus the kept-token anti-join); ``persist_covered``
    trades memory/disk for recomputing the whole gram->hot pipeline per
    consumer — same discipline as the LSH signature tables.  The gram
    table itself feeds two consumers (the hot-gram count and the
    covered-position join); ``persist_grams`` avoids tokenizing+hashing
    the corpus twice for them, at the cost of caching an
    O(corpus gram positions) frame — on a cluster with tight executor
    memory prefer ``persist_grams=False`` (recompute) over spilling.
    ``eager=True`` materializes the result and unpersists the helpers
    (cache-hygiene epilogue; note the result carries full rebuilt text,
    so at sink scale prefer ``eager=False`` + write + then
    ``spark.catalog.clearCache()`` — with ``eager=False`` the persisted
    helpers have no caller-visible handle and stay pinned until the
    cache is cleared; pass ``persist_*=False`` to avoid pinning
    entirely).
    """
    from pyspark import StorageLevel

    df = _parallelize_input(df)
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), words.alias("ws")
    )

    helpers = []
    grams = df.select(
        F.col(id_col),
        F.posexplode(
            portable_shingle_hashes(text_col, n, strict=True, distinct=False)
        ).alias("s", "gh"),
    )
    if persist_grams:
        grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
        helpers.append(grams)
    hot = (
        grams.dropDuplicates([id_col, "gh"])
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("gh")
    )
    # token positions (0-based) covered by some hot gram start s
    covered = (
        grams.join(hot, "gh")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("s"), F.col("s") + F.lit(n - 1))
            ).alias("p"),
        )
        .dropDuplicates([id_col, "p"])
    )
    if persist_covered:
        covered = covered.persist(StorageLevel.MEMORY_AND_DISK)
        helpers.append(covered)

    dup_ids = covered.select(id_col).distinct()
    dup_docs = base.join(dup_ids, id_col, "semi")
    clean_docs = base.join(dup_ids, id_col, "anti")

    toks = dup_docs.select(F.col(id_col), F.posexplode("ws").alias("p", "tok"))
    if min_span_chars > 0:
        # gaps-and-islands: adjacent covered positions share
        # p - row_number(); each island is one maximal span.  The
        # window shuffles only the covered positions (O(dup tokens),
        # small vs the corpus), keyed by doc id — no skew beyond a
        # single pathological doc, which AQE handles.
        from pyspark.sql import Window

        # toks feeds two consumers in maximal-span mode (the island
        # char-length computation and the kept anti-join); persist so
        # the dup-doc semi-join + token explode runs once
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
        helpers.append(toks)
        # ONE pass over the covered tokens: island id via the
        # gaps-and-islands window, per-island rejoined char length via
        # a second window over (id, grp), filter, done — no separate
        # groupBy + semi-join re-derivation of the islands frame
        w_isl = Window.partitionBy(id_col).orderBy("p")
        w_grp = Window.partitionBy(id_col, "grp")
        removed = (
            covered.join(toks, [id_col, "p"])
            .withColumn("grp", F.col("p") - F.row_number().over(w_isl))
            .withColumn(
                "chars",
                F.sum(F.length("tok")).over(w_grp)
                + F.count(F.lit(1)).over(w_grp)
                - 1,
            )
            .filter(F.col("chars") >= min_span_chars)
            .select(id_col, "p")
        )
    else:
        removed = covered
    kept = toks.join(removed, [id_col, "p"], "anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    dup_out = (
        dup_docs.select(F.col(id_col), F.size("ws").alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
    clean_out = clean_docs.select(
        F.col(id_col),
        F.size("ws").cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_removed"),
        F.concat_ws(" ", "ws").alias("clean_text"),
    )
    out = dup_out.unionByName(clean_out).select(
        F.col(id_col),
        "n_tokens",
        "n_removed",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("n_removed") / F.col("n_tokens"), 6))
        .alias("removed_fraction"),
        "clean_text",
    )
    # eager materialization runs regardless of which helpers were
    # persisted (an eager=True, persist_*=False caller still gets a
    # materialized frame back — ADVICE r4 flagged the silent lazy plan)
    return _finish_eager(out, helpers) if eager else out


# ------------------------------------------ corpus-global line dedup


def word_chunks(text: F.Column, chunk: int = 4) -> F.Column:
    """Deterministic ``chunk``-word 'lines' (array<string>) for
    single-line corpora — the shared line-derivation used by BOTH the
    corpus-global line dedup and the duplicate-line-fraction queries
    (and mirrored SQL-side by ``oracles.word_chunks_sql``): keeping it
    in one place is what makes their 'same line form' docstring claims
    structurally true rather than copy-paste-true."""
    ws = F.split(text, " ")
    return F.transform(
        F.sequence(F.lit(1), F.size(ws), F.lit(chunk)),
        lambda i: F.concat_ws(" ", F.slice(ws, i, F.lit(chunk))),
    )


def global_line_dedup(
    df: DataFrame, text_col: str, id_col: str, min_chars: int = 1
) -> DataFrame:
    """C4-style GLOBAL line deduplication (Raffel et al. 2020 §2.2
    discard repeated spans, applied at line granularity as CCNet/
    RefinedWeb do): across the WHOLE corpus, a line survives only at
    its FIRST occurrence — first = smallest (id, line_index) — and each
    document is reassembled from its surviving lines in original order.
    Complements :func:`~dqmtools_spark.functions.textstats.
    dedup_repeated_lines`, which is intra-document/per-row only.

    Returns (id_col, deduped_text, n_kept).  A document whose every
    line occurred earlier comes back with ``deduped_text=''`` and
    ``n_kept=0`` (C4 then drops such docs via the length rule).  Lines
    shorter than ``min_chars`` are exempt (always kept): the default 1
    exempts only empty lines, so blank-line structure survives.
    NULL-text docs also return ('', 0).  Rows that share an id are one
    document, returned once (as ``oracles.global_line_dedup_sql``'s
    ``GROUP BY doc_id`` does).

    Scale shape — the canonical global span-dedup plan, all rows
    O(corpus lines), no all-pairs anything, no join:
      1. posexplode lines,
      2. winner per distinct line = ``min(struct(id, idx))`` — ONE
         aggregate keyed by the line itself, with map-side partial
         combine; the line crosses the exchange once, as the key, and
         nothing joins back to it,
      3. one groupBy(id) over winners, short lines and per-doc stubs
         reassembles each doc (sorted by line index).
    Deterministic across runs and cluster sizes: winners are pure mins.
    """
    out, _winners = global_line_dedup_frames(df, text_col, id_col, min_chars)
    return out


def global_line_dedup_frames(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_chars: int = 1,
    seen_hashes: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The shared core of batch AND incremental global line dedup:
    returns ``(out, winners)`` where ``out`` is the
    (id, deduped_text, n_kept) result and ``winners`` the one-row-per-
    newly-kept-line frame (``_h`` = md5(line), ``_id``, ``_idx``,
    ``_line``) — the ledger increment a stream appends is its ``_h``;
    ``out`` regroups its lines.

    ``seen_hashes`` (a frame with column ``_h``) excludes lines the
    corpus has ALREADY kept (prior micro-batches): they get no winner
    row, so they are dropped like within-corpus later occurrences.
    ``None`` (the batch form) means nothing is pre-seen.  Keeping one definition is what makes the
    streaming twin (:func:`~dqmtools_spark.streaming.stream.
    stream_global_line_dedup`) EQUAL to the batch operator by
    construction, not by parallel maintenance of two copies.
    """
    df = _parallelize_input(df)
    # a NULL-line stub leads every document (posexplode_outer makes one
    # for a NULL text), so a document that keeps no line still regroups
    lines = F.concat(
        F.array(F.lit(None).cast("string")), F.split(F.col(text_col), r"\n")
    )
    ex = df.select(
        F.col(id_col).alias("_id"), F.posexplode_outer(lines).alias("_idx", "_line")
    )
    fresh = ex.filter(F.length("_line") >= min_chars)
    if seen_hashes is not None:
        fresh = (
            fresh.withColumn("_h", F.md5("_line"))
            .join(seen_hashes.select("_h"), "_h", "anti")
            .drop("_h")
        )
    # keyed by the line, not md5(line): the exchange then carries each
    # line once, as the key, with no 32-char hash beside it (a near_dup
    # benchmark iteration shuffles 3.90 MB, against 4.56 MB with the md5
    # key).  The ledger's _h is taken after the aggregate; out drops it.
    winners = (
        fresh.groupBy("_line")
        .agg(F.min(F.struct("_id", "_idx")).alias("_w"))
        .select(F.md5("_line").alias("_h"), "_w._id", "_w._idx", "_line")
    )
    exempt = F.col("_line").isNull() | (F.length("_line") < min_chars)
    kept = ex.filter(exempt).unionByName(winners.drop("_h"))
    # array_join and count both skip the stub's NULL line
    out = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("deduped_text"),
        F.count("_line").alias("n_kept"),
    ).withColumnRenamed("_id", id_col)
    return out, winners


# ------------------------------------------- embedding-cosine near-dup


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int | None = 8,
    seed: int = 42,
    expected_rows: int | None = None,
    target_bucket_rows: int = 1024,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    Candidate generation is the hyperplane-LSH bucket (same signature
    family as ANN search): only rows sharing a sign-pattern bucket are
    compared, so the self-join shuffles on (bucket) instead of
    exploding all pairs.  Exact cosine (JVM-side
    ``aggregate(zip_with(...))``) verifies every candidate — no false
    positives.  RECALL of this single-bucket (AND-only) construction
    is the per-plane collision probability to the n_planes power:
    (1 - theta/pi)^n — e.g. ~0.43 at cosine 0.95 with 8 planes, and
    measured 0.3% at threshold 0.35 with 12 planes (BENCH §15) — so
    treat it as a high-precision prefilter; for measured-recall
    near-dup detection use the banded OR-construction
    (:func:`~dqmtools_spark.operators.similarity.
    embedding_cosine_pairs_int_banded`, 90%+ measured at its design
    target) or run several seeds of this function and union.

    SCALE: intra-bucket comparison is quadratic in bucket occupancy, so
    ``n_planes`` must grow with the corpus (log2) — pass
    ``n_planes=None`` with ``expected_rows`` to derive it via
    :func:`~dqmtools_spark.operators.similarity.n_planes_for_corpus`
    (SCALE.md "Embedding LSH plane-count scaling").

    Semantics analog: the reference's near-identical-stream checks
    compare per-channel signatures rather than raw waveforms
    (SURVEY §2.3 A1-A5); here the signature is the LSH bucket.
    """
    from dqmtools_spark.operators.similarity import build_ann_index, cosine

    indexed = build_ann_index(
        df,
        vec_col,
        dim,
        n_planes=n_planes,
        seed=seed,
        expected_rows=expected_rows,
        target_bucket_rows=target_bucket_rows,
    ).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        "bucket",
    )
    l, r = indexed.alias("l"), indexed.alias("r")
    cand = l.join(
        r,
        (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l._id") < F.col("r._id")),
    )
    return (
        cand.select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            cosine(F.col("l._v"), F.col("r._v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
