"""Deduplication operators over ``documents`` / ``embeddings`` (north-star
surface): exact, MinHash+LSH banding, SimHash, n-gram Jaccard, and
embedding-cosine near-duplicates.

Design for 100 TB:
- Exact dedup groups on a 128-bit content hash, never on the raw text —
  the shuffle moves 16-byte keys, not documents.
- MinHash/LSH is the linear-time near-dup path: shingle -> k minhashes ->
  band buckets -> candidate pairs only within a bucket.  The only join is
  bucket-equality (hash shuffle on band_hash); no all-pairs comparison ever
  materializes.  Hash functions are md5-based so the DuckDB oracle computes
  the identical signature (lexicographic min over hex strings).
- SimHash is one explode + two aggregations — fingerprints, not pairs.
- The all-pairs operators (ngram-jaccard, cosine) are intentionally
  candidate-constrained (same-language + length band / LSH bucket); the
  unconstrained variants exist only as oracle-checkable baselines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kafka_spark_streaming_eval_spark.catalog import table
from kafka_spark_streaming_eval_spark.plans.registry import register
from kafka_spark_streaming_eval_spark.session import (
    INTASK_MAX_EDGES,
    counted_checkpoint,
    iter_checkpoint,
    prep,
)

N_HASHES = 12  # minhash signature length
BAND_SIZE = 3  # rows per LSH band -> 4 bands
# Per-bucket membership cap: pair fan-out is quadratic in bucket size, so a
# degenerate bucket (e.g. an all-identical corpus hashing to one band value)
# would emit O(n^2) pairs.  Capping to the first LSH_BUCKET_CAP sorted doc
# ids bounds any bucket at C(cap,2) pairs; near-dup recall is unaffected in
# practice because true near-dup clusters this large collapse through the
# capped members' connected component anyway.
LSH_BUCKET_CAP = 64


def _docs(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    prep(spark)
    return table(spark, sf_dir, "documents", spread=spread)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_content_hash",
    "dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on md5(text): one group per distinct content, the
    smallest doc_id is the deterministic keeper.  The shuffle key is the
    16-byte hash, so this scales to documents of any size."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_first_event_per_user",
    "dedup",
    oracle="""
    SELECT user_id, event_id, event_type
    FROM (SELECT * REPLACE (date_trunc('milliseconds', ts) AS ts) FROM events)
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
    """,
)
def dedup_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates: keep each user's earliest event.
    ``dropDuplicates(subset)`` keeps an *arbitrary* row — for reproducible
    pipelines use row_number over an explicit order instead."""
    ev = table(prep(spark), sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates
# ---------------------------------------------------------------------------


def shingle_rows(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, sh) word 3-shingle rows — zero shuffles.

    The token array is materialized once per row, shingles come from a
    higher-order ``transform`` over the index range, then one explode.  The
    HOF lambda runs interpreted, but it only does 3 array reads + a concat
    (the earlier window-based formulation needed a per-doc sort shuffle,
    which at 100 TB is the difference between a map-only stage and a full
    repartition of the corpus).  Documents with fewer than 3 tokens yield no
    shingles (the ``when`` guard — ``sequence(0, -1)`` would count DOWN).
    """
    toks = docs.select("doc_id", *carry, F.split(F.lower("text"), " ").alias("_t"))
    sh_arr = F.when(
        F.size("_t") >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size("_t") - 3),
            lambda i: F.concat_ws(
                " ", F.col("_t")[i], F.col("_t")[i + 1], F.col("_t")[i + 2]
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    return toks.select("doc_id", *carry, F.explode(sh_arr).alias("sh"))


_SHINGLES_SQL = """
    list_transform(generate_series(1, len(string_split(lower(text),' ')) - 2),
                   i -> string_split(lower(text),' ')[i] || ' ' ||
                        string_split(lower(text),' ')[i+1] || ' ' ||
                        string_split(lower(text),' ')[i+2])
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id -> (h0..h{k-1}) minhash signature.

    The i-th hash of a shingle is ``md5(i || ':' || shingle)``; the minhash is
    the lexicographic min over the document's shingles (hex strings compare
    identically everywhere).  One explode + one groupBy with k min()
    aggregates — fully map-side combinable.
    """
    sh = shingle_rows(docs)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_sql(src: str = "documents") -> str:
    mins = ",\n             ".join(
        f"min(md5('{i}:' || sh)) AS h{i}" for i in range(N_HASHES)
    )
    return f"""
      SELECT doc_id, {mins}
      FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM {src})
      GROUP BY doc_id
    """


def band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) — one row per (doc, LSH band).

    Single explode over a literal band array: a per-band union of selects
    over ``sig`` would recompute the signature aggregation per branch.
    Shared by candidate-pair generation and near-dup decontamination so the
    banding scheme lives in exactly one place."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat(*[f"h{b * BAND_SIZE + j}" for j in range(BAND_SIZE)])
                ).alias("band_hash"),
            )
            for b in range(N_HASHES // BAND_SIZE)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bd")).select(
        "doc_id",
        F.col("bd.band_id").alias("band_id"),
        F.col("bd.band_hash").alias("band_hash"),
    )


def _bands_sql() -> str:
    """DuckDB mirror of :func:`band_rows`: SELECT body over a ``sig`` CTE."""
    cases = "\n               ".join(
        f"WHEN {b} THEN md5("
        + " || ".join(f"h{b * BAND_SIZE + j}" for j in range(BAND_SIZE))
        + ")"
        for b in range(N_HASHES // BAND_SIZE)
    )
    return f"""
      SELECT doc_id, b.band_id,
             CASE b.band_id
               {cases}
             END AS band_hash
      FROM sig, (SELECT unnest(generate_series(0, {N_HASHES // BAND_SIZE - 1}))
                 AS band_id) b
    """


@register(
    "dedup_minhash_signature",
    "dedup",
    oracle=f"""
    WITH sig AS ({_minhash_sql()})
    SELECT doc_id, h0, h3, h7, h11,
           md5(h0 || h1 || h2) AS band0
    FROM sig
    """,
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (spot-checked components + first band hash)."""
    sig = minhash_signatures(_docs(spark, sf_dir))
    return sig.select(
        "doc_id",
        "h0",
        "h3",
        "h7",
        "h11",
        F.md5(F.concat("h0", "h1", "h2")).alias("band0"),
    )


_BANDS_BODY = _bands_sql()
_LSH_PAIRS_SQL = f"""
    WITH sig AS ({_minhash_sql()}),
    bands AS ({_BANDS_BODY})
    , capped AS (
      SELECT band_id, band_hash,
             unnest(list_slice(list_sort(list(doc_id)), 1, {LSH_BUCKET_CAP}))
               AS doc_id
      FROM bands GROUP BY band_id, band_hash
    )
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM capped a JOIN capped c
      ON a.band_id = c.band_id AND a.band_hash = c.band_hash
     AND a.doc_id < c.doc_id
"""


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) LSH candidate pairs, doc_a < doc_b, distinct.

    Pair generation is groupBy-bucket + in-bucket pair expansion, NOT a
    self-join: a self-join would execute the whole shingle->signature
    pipeline twice (Spark doesn't share lineage between join sides), and at
    100 TB that's two full corpus scans instead of one.  Here signatures are
    computed once, shuffled once on (band_id, band_hash), and each bucket
    emits its own pairs via higher-order functions.  Bucket fan-out is
    quadratic in bucket size — the standard LSH caveat — so membership is
    capped at the first ``LSH_BUCKET_CAP`` sorted doc ids per bucket,
    bounding any degenerate bucket (all-identical corpus) at C(cap,2)
    pairs; the oracle applies the identical cap."""
    allb = band_rows(minhash_signatures(docs))
    # Cap BEFORE collecting: row_number over the bucket key keeps every
    # bucket's array <= cap elements, so a degenerate bucket can never
    # materialize a giant collect_list array in one task.  The window
    # partitions on the same key as the groupBy, so both run on ONE shuffle.
    bucket_w = W.partitionBy("band_id", "band_hash").orderBy("doc_id")
    buckets = (
        allb.withColumn("rn", F.row_number().over(bucket_w))
        .where(F.col("rn") <= LSH_BUCKET_CAP)
        .groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    # All ordered pairs within a bucket: for ids[i], pair with every later id.
    pair_arr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


@register("dedup_minhash_lsh_pairs", "dedup", oracle=_LSH_PAIRS_SQL)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: 12 minhashes -> 4 bands of 3; two documents are
    candidates iff some band hashes equal.  See :func:`lsh_candidate_pairs`
    for the single-scan pair-generation design."""
    return lsh_candidate_pairs(_docs(spark, sf_dir))


def _components_intask():
    """Union-find over the (u, v) edge batches of ONE task: exact connected
    components with component_id = min doc_id per component (union always
    attaches the larger root under the smaller, so every root is its
    component's minimum — the same fixed point the min-label loop converges
    to, except exact rather than 30-round-capped).  Emits one row per node:
    (doc_id, component_id, n_reachable=|component|).  Returned as a closure
    so cloudpickle ships it by value — the driver's workers need no
    PYTHONPATH to this package (same reason as _pagerank_intask)."""

    def run(pdfs):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for df in pdfs:
            for a, b in zip(df["u"], df["v"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        if not parent:
            return
        comp = {node: find(node) for node in parent}
        sizes: dict = {}
        for root in comp.values():
            sizes[root] = sizes.get(root, 0) + 1
        nodes = list(comp)
        yield pd.DataFrame(
            {
                "doc_id": nodes,
                "component_id": [comp[n] for n in nodes],
                "n_reachable": [sizes[comp[n]] for n in nodes],
            }
        )

    return run


@register(
    "dedup_cluster_components",
    "dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_LSH_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
    )
    SELECT u AS doc_id, min(v) AS component_id, count(*) AS n_reachable
    FROM reach GROUP BY u
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate graph — the step that
    turns pairwise near-dup hits into dedup *clusters* (keep one doc per
    component).  Iterative min-label propagation: each round every node
    adopts the smallest label among itself and its neighbors; converges in
    O(graph diameter) rounds (near-dup clusters are small and dense, so
    typically 2-3).

    Scale shape: each round is one equi-join (edges x labels, hash-shuffled
    on the node id) + one groupBy — no collect of edges or labels to the
    driver; the driver only sees the 1-row convergence count.
    ``localCheckpoint`` truncates the growing lineage each round (the
    standard iterative-algorithm pattern; on a cluster use reliable
    checkpointing).  ``n_reachable`` (component size seen from each node)
    doubles as a verification the propagation reached the full component —
    the oracle computes it from the recursive closure."""
    # Checkpoint the SINGLE-direction pair list (pairs computed once,
    # reused every round): the doubled edge view derives from it with two
    # cheap checkpoint-scan selects, so the materialization writes half the
    # rows the r14 version did (which checkpointed the doubled union — its
    # two branches also each replanned the pair build; A/B at sf0.1:
    # med 1.84 -> 1.70 s with the in-task path below).
    pairs, n_pairs = counted_checkpoint(lsh_candidate_pairs(_docs(spark, sf_dir)))
    # Tiny-graph fast path (r15, guide §2.4/§2.6 — same move as
    # graph_pagerank_trade): the r14 loop spent its time in per-round join
    # jobs + checkpoints on a ~500-edge graph (phase A/B at sf0.1: pair
    # build ~60%, loop ~35%, tail ~10% of 1.5 s).  Below INTASK_MAX_EDGES
    # the loop + component-size agg + final join collapse into ONE
    # union-find task over the already-checkpointed pairs — exact closure,
    # the very fixed point the capped loop approximates (interleaved A/B at
    # sf0.1: med 2.17 -> 1.46 s).  The pair count comes with the
    # checkpoint's job; at 100 TB the distributed loop below takes over
    # unchanged.
    if n_pairs * 2 <= INTASK_MAX_EDGES:
        return (
            pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
            .coalesce(1)
            .mapInPandas(
                _components_intask(),
                "doc_id long, component_id long, n_reachable long",
            )
        )
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    labels = edges.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    )
    for it in range(30):
        nbr_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Carry the old label through the update so the convergence check is
        # a filter over the checkpointed frame, not another join+job.
        upd = labels.join(nbr_min, labels.node == nbr_min.u, "left").select(
            "node",
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
            F.col("label").alias("old_label"),
        )
        # Checkpoint only on check rounds (every 2nd): the intermediate
        # round's 2-deep lineage is cheaper than an eager materialization
        # job per round (A/B at sf0.1: -8% wall), and the convergence count
        # then scans the just-checkpointed state instead of re-deriving it.
        # Propagation converges in O(diameter) ≈ 2-3 rounds, so at most one
        # extra propagation round is paid for the halved check cadence.
        if it % 2 == 1:
            upd = iter_checkpoint(upd)
        labels = upd.select("node", "label")
        if it % 2 == 1 and upd.where(F.col("label") != F.col("old_label")).count() == 0:
            break
    # Component size per node == nodes sharing the label (a broadcastable agg).
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_reachable"))
    return labels.join(F.broadcast(sizes), "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component_id"),
        "n_reachable",
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------


def _simhash_sql(src: str = "documents") -> str:
    """DuckDB SQL computing (doc_id, simhash32) over ``src`` — the exact
    mirror of :func:`simhash_fingerprints`, shared by the fingerprint and
    Hamming-radius queries so the scheme lives in one place."""
    return f"""
    SELECT doc_id,
           CAST(sum(CASE WHEN vote >= 0 THEN CAST(1 AS BIGINT) << pos ELSE 0 END)
                AS BIGINT) AS simhash32
    FROM (
      SELECT doc_id, p.pos,
             sum(CASE WHEN strpos('0123456789abcdef', substr(md5(w), p.pos + 1, 1)) - 1 >= 8
                      THEN 1 ELSE -1 END) AS vote
      FROM (
        SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM {src}
      ), (SELECT unnest(generate_series(0, 31)) AS pos) p
      WHERE w <> ''
      GROUP BY doc_id, p.pos
    )
    GROUP BY doc_id
    """


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, simhash32): bit j of a word's md5 (top
    bit of hex digit j) votes +-1; the fingerprint takes the majority per
    position.  One explode + two keyed aggregations, no pairs."""
    words = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    hexd = F.lit("0123456789abcdef")
    pos = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("pos")
    voted = (
        words.select("doc_id", F.md5("w").alias("h"))
        .select("doc_id", "h", pos)
        .groupBy("doc_id", "pos")
        .agg(
            F.sum(
                F.when(
                    F.instr(hexd, F.substring(F.col("h"), F.col("pos") + 1, 1)) - 1 >= 8,
                    1,
                ).otherwise(-1)
            ).alias("vote")
        )
    )
    return voted.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("vote") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), pos)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash32")
    )


@register(
    "dedup_simhash",
    "dedup",
    oracle=_simhash_sql("documents"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash: bit j of a word's md5 (top bit of hex digit j) votes
    +-1; the fingerprint takes the majority per position.  Near-duplicate
    docs land within a small Hamming distance — at scale, bucket on 8-bit
    chunks of the fingerprint for candidate generation (same banding idea
    as LSH).

    Oracle note (round-1 hash mismatch, fixed): DuckDB ``sum(BIGINT)``
    returns HUGEINT, which pandas fetches as float64 while Spark's sum is
    int64 — values were equal but the driver's value-hash distinguishes
    ``123`` from ``123.0``.  The oracle now casts the sum back to BIGINT so
    both engines emit int64."""
    return simhash_fingerprints(_docs(spark, sf_dir).select("doc_id", "text"))


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact) on candidate pairs
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    "dedup",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, n_chars, list_distinct({_SHINGLES_SQL}) AS s
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity over candidate pairs constrained to
    same language + |length delta| <= 5 — the candidate predicate keeps the
    join a banded equi-join (lang) with a cheap post-filter, not all-pairs."""
    sh = (
        shingle_rows(_docs(spark, sf_dir), carry=("lang", "n_chars"))
        .groupBy("doc_id", "lang", "n_chars")
        .agg(F.collect_set("sh").alias("s"))
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.array_distinct(F.concat(F.col("a.s"), F.col("b.s"))))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 5),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )


@register(
    "dedup_lsh_jaccard_verified",
    "dedup",
    oracle=f"""
    WITH pairs AS ({_LSH_PAIRS_SQL}),
    sh AS (
      SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS s FROM documents
    )
    SELECT p.doc_a, p.doc_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM pairs p
    JOIN sh a ON a.doc_id = p.doc_a
    JOIN sh b ON b.doc_id = p.doc_b
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    """,
)
def dedup_lsh_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical MinHash dedup pipeline END-TO-END: LSH banding proposes
    candidate pairs (probabilistic, capped buckets), then exact shingle-set
    Jaccard verifies each candidate and keeps pairs >= 0.5 — the precision
    filter that turns LSH hits into actionable duplicates
    (`dedup_minhash_lsh_pairs` and `dedup_ngram_jaccard` exercise the
    stages in isolation).

    Scale shape: the exact-Jaccard join touches ONLY the candidate set
    (O(pairs), tiny by construction thanks to banding + the bucket cap),
    joined twice against the per-doc shingle sets — never all-pairs.  The
    corpus is scanned twice total (once for signatures, once for shingle
    sets); at 100 TB the shingle-set table is the thing to materialize
    once and reuse across both."""
    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(docs)
    sh = shingle_rows(docs).groupBy("doc_id").agg(F.collect_set("sh").alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = (
        F.size(F.array_intersect(F.col("a.s"), F.col("b.s"))).cast("double")
        / F.size(F.array_distinct(F.concat(F.col("a.s"), F.col("b.s"))))
    )
    return (
        pairs.join(a, pairs.doc_a == F.col("a.doc_id"))
        .join(b, pairs.doc_b == F.col("b.doc_id"))
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_neardup",
    "dedup",
    oracle="""
    WITH aug AS (
      SELECT vec_id, label, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 10000000, label,
             list_transform(generate_series(1, len(embedding)),
               i -> CASE WHEN i = 1
                         THEN CAST(CAST(embedding[1] AS DOUBLE) * 1.01 AS REAL)
                         ELSE embedding[i] END)
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    v AS (
      SELECT vec_id, label, embedding,
             sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                  (a, b) -> a + b)) AS nrm
      FROM aug
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_reduce(list_transform(generate_series(1, len(a.embedding)),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
          (x, y) -> x + y) / (a.nrm * b.nrm) > 0.99
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicates: same-label candidate pairs with cosine >
    0.99.  The label equi-join is the IVF-style bucket constraint (at 100 TB
    the label comes from a coarse quantizer); dot products are higher-order
    ``zip_with``+``aggregate`` folds — JVM-side, no UDF.

    The synthetic corpus has no organic >0.99 pair (max same-label cosine
    ~0.47), which made a 0-rows-vs-0-rows "pass" vacuous; the query unions
    in a deterministic perturbed copy of every 100th vector (first
    coordinate * 1.01, cosine ~0.9999 to its source) so the positive
    detection path is exercised and hash-checked — the oracle applies the
    identical augmentation (both perturb in float64 and round back to
    float32, so the bits agree)."""
    prep(spark)
    base = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    perturbed = base.where(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 10000000).alias("vec_id"),
        "label",
        F.transform(
            "embedding",
            lambda x, i: F.when(
                i == 0, (x.cast("double") * 1.01).cast("float")
            ).otherwise(x),
        ).alias("embedding"),
    )
    e = base.unionByName(perturbed)
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    v = e.select("vec_id", "label", "embedding", nrm.alias("nrm"))
    a = v.alias("a")
    b = v.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.embedding"),
            F.col("b.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .where(dot / (F.col("a.nrm") * F.col("b.nrm")) > 0.99)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    )


@register(
    "dedup_incremental_against_corpus",
    "dedup",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ),
    new_docs AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
    )
    SELECT n.doc_id, n.h AS content_hash
    FROM new_docs n
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = n.h)
      AND NOT EXISTS (
        SELECT 1 FROM new_docs m WHERE m.h = n.h AND m.doc_id < n.doc_id
      )
    """,
)
def dedup_incremental_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a NEW batch of documents
    dedups (a) against the already-ingested corpus and (b) within itself,
    without ever rescanning corpus text.  Here the corpus is the even
    doc_ids and the batch the odd ones (a deterministic stand-in for the
    snapshot boundary).  (a) is a LEFT ANTI join against the corpus's
    content-hash index — at 100 TB you store exactly this hash column as
    its own compact table, so daily ingest touches gigabytes, not the
    corpus; (b) is a min-doc_id-wins window inside the batch.  Output =
    the documents that actually enter the corpus."""
    docs = _docs(spark, sf_dir)
    corpus_hashes = (
        docs.where(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("h")).distinct()
    )
    new_docs = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    w = W.partitionBy("content_hash").orderBy("doc_id")
    return (
        new_docs.join(
            corpus_hashes, new_docs.content_hash == corpus_hashes.h, "left_anti"
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "content_hash")
    )


@register(
    "dedup_levenshtein_block",
    "dedup",
    oracle="""
    WITH blocked AS (
      SELECT doc_id, lang, n_chars // 20 AS len_bucket,
             substr(lower(text), 1, 32) AS prefix
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           levenshtein(a.prefix, b.prefix) AS edit_dist
    FROM blocked a JOIN blocked b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 8
    """,
)
def dedup_levenshtein_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection under blocking: documents pair up
    only within a (language, length-bucket) block, then a 32-char prefix
    Levenshtein <= 8 confirms near-duplicates.  This is the classic record-
    linkage "blocking" pattern: the quadratic comparator runs inside blocks
    whose size is bounded by data layout, never across the corpus — same
    scale shape as the LSH bucket join (the equi-join on the block key is
    one hash shuffle; candidates, not the corpus, pay the O(k^2)).  The
    comparator runs on a fixed-length prefix so cost per pair is bounded
    (O(32^2) cells), the standard trick when full-text edit distance is
    unaffordable.  Built-in ``levenshtein`` — JVM-side, no UDF."""
    d = _docs(spark, sf_dir)
    blocked = d.select(
        "doc_id",
        "lang",
        F.expr("n_chars div 20").alias("len_bucket"),
        F.substring(F.lower("text"), 1, 32).alias("prefix"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.levenshtein(F.col("a.prefix"), F.col("b.prefix")) <= 8)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-containment dedup
# ---------------------------------------------------------------------------

PREFIX_BLOCK_TOKENS = 8  # blocking key: first 8 tokens
PREFIX_PLANT_EVERY = 200  # plant a truncated copy of every 200th doc
PREFIX_PLANT_TOKENS = 16  # the planted copy keeps the first 16 tokens


@register(
    "dedup_prefix_containment",
    "dedup",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000,
             array_to_string(
               list_slice(string_split(text, ' '), 1, {PREFIX_PLANT_TOKENS}),
               ' ')
      FROM documents WHERE doc_id % {PREFIX_PLANT_EVERY} = 0
    ),
    blocked AS (
      SELECT doc_id, text, length(text) AS n,
             md5(array_to_string(
               list_slice(string_split(text, ' '), 1, {PREFIX_BLOCK_TOKENS}),
               ' ')) AS bk
      FROM corpus
      WHERE len(string_split(text, ' ')) >= {PREFIX_BLOCK_TOKENS}
    ),
    capped AS (
      SELECT doc_id, text, n, bk FROM (
        SELECT *, row_number() OVER (PARTITION BY bk ORDER BY n, doc_id) AS rn
        FROM blocked
      ) WHERE rn <= {LSH_BUCKET_CAP}
    )
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
           a.n AS contained_len, b.n AS container_len
    FROM capped a JOIN capped b
      ON a.bk = b.bk AND a.n < b.n
     AND starts_with(b.text, a.text || ' ')
    """,
)
def dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-prefix containment dedup: find documents that are a strict
    prefix of a longer document (truncated re-crawls, feed snippets vs full
    articles — a common pretraining near-dup class that MinHash misses when
    the container is much longer than the contained doc, since Jaccard
    dilutes with the length ratio).

    To prove the positive path on the synthetic corpus, every
    {PREFIX_PLANT_EVERY}th document plants a deterministic truncated copy
    (first {PREFIX_PLANT_TOKENS} tokens, doc_id + 10M) — both engines plant
    identically.

    Plan shape for 100 TB: block on md5(first {PREFIX_BLOCK_TOKENS} tokens)
    — a prefix of the contained doc IS a prefix of its container, so any
    containment pair shares a block key and blocking has NO recall loss
    (unlike length-band blocking).  The join is hash-equality on the 32-char
    block key; bucket membership is capped at {LSH_BUCKET_CAP} (shortest
    first, so contained docs survive the cap) bounding degenerate blocks at
    C(cap,2).  Verification is a char-level ``startswith(container,
    contained || ' ')`` — the space suffix enforces a token boundary.

    spread=False (VERDICT r14 item 3): scan-side work is one split+slice+md5
    of a short prefix per doc before the block-key exchange; the spread's
    extra full-text exchange cost 0.48 s -> 0.68 s at sf0.1 (8->32-core
    ratio 0.87: task overhead already exceeds the map work)."""
    d = _docs(spark, sf_dir, spread=False)
    toks = F.split(F.col("text"), " ")
    planted = (
        d.where(F.col("doc_id") % PREFIX_PLANT_EVERY == 0)
        .select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            F.concat_ws(" ", F.slice(toks, 1, PREFIX_PLANT_TOKENS)).alias("text"),
        )
    )
    corpus = d.select("doc_id", "text").unionByName(planted)
    blocked = corpus.where(F.size(F.split("text", " ")) >= PREFIX_BLOCK_TOKENS).select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, PREFIX_BLOCK_TOKENS))
        ).alias("bk"),
    )
    bucket_w = W.partitionBy("bk").orderBy("n", "doc_id")
    capped = (
        blocked.withColumn("rn", F.row_number().over(bucket_w))
        .where(F.col("rn") <= LSH_BUCKET_CAP)
        .drop("rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.n") < F.col("b.n"))
            & F.col("b.text").startswith(F.concat(F.col("a.text"), F.lit(" "))),
        )
        .select(
            F.col("a.doc_id").alias("contained_id"),
            F.col("b.doc_id").alias("container_id"),
            F.col("a.n").alias("contained_len"),
            F.col("b.n").alias("container_len"),
        )
    )


SET_MINHASHES = 12  # signature length for the set-overlap estimator


@register(
    "dedup_minhash_set_overlap",
    "dedup",
    oracle=f"""
    WITH su AS (
      -- "engaged audience": users with >= 14 events of the type; every user
      -- touches every type in the synthetic data, so raw sets are identical
      SELECT event_type, user_id FROM events
      GROUP BY event_type, user_id HAVING count(*) >= 14
    ),
    hashed AS (
      SELECT event_type, hi.i AS hi,
             md5(CAST(hi.i AS VARCHAR) || '_' || CAST(user_id AS VARCHAR)) AS h
      FROM su, (SELECT unnest(generate_series(0, {SET_MINHASHES - 1})) AS i) hi
    ),
    sig AS (
      SELECT event_type, hi, min(h) AS mh FROM hashed GROUP BY 1, 2
    ),
    est AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             round(count(*) FILTER (WHERE a.mh = b.mh)
                   / CAST({SET_MINHASHES} AS DOUBLE), 6) AS est_jaccard
      FROM sig a JOIN sig b ON a.hi = b.hi AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    sz AS (SELECT event_type, count(*) AS n FROM su GROUP BY 1),
    tru AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_inter
      FROM su a JOIN su b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b, e.est_jaccard,
           round(t.n_inter / CAST(za.n + zb.n - t.n_inter AS DOUBLE), 6)
             AS true_jaccard,
           -- 2SE for k=12: sqrt(J(1-J)/12) <= 0.1443 at J=0.5, so 0.29
           abs(e.est_jaccard
               - t.n_inter / CAST(za.n + zb.n - t.n_inter AS DOUBLE)) <= 0.29
             AS within_2se
    FROM est e
    JOIN tru t ON e.type_a = t.type_a AND e.type_b = t.type_b
    JOIN sz za ON e.type_a = za.event_type
    JOIN sz zb ON e.type_b = zb.event_type
    """,
)
def dedup_minhash_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash as a SET-similarity sketch (not document LSH): estimate the
    Jaccard overlap of the audience (user set) behind each pair of event
    types from {SET_MINHASHES}-hash signatures, and audit the estimate
    against the exact Jaccard.  The audience is the users with >= 14
    events of the type (the raw sets are all-users-by-construction in the
    synthetic data and would compare as identical).  This is the sketch a planner uses when the
    sets are billions of members and exact intersection is a full co-shuffle:
    signatures are one linear scan + a (type, hash-id) groupBy; comparing
    ANY pair of sets then costs {SET_MINHASHES} equality checks instead of a
    join.  The exact-Jaccard side here exists only as the in-query audit
    (`within_2se`: |est - true| <= 0.29, the k=12 2-standard-error bound sqrt(J(1-J)/12)*2 maximized at J=0.5); both sides are md5-deterministic so
    every value hash-matches cross-engine."""
    prep(spark)
    su = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= 14)
        .select("event_type", "user_id")
    )
    hashed = su.select(
        "event_type",
        F.explode(F.array(*[F.lit(i) for i in range(SET_MINHASHES)])).alias("hi"),
        "user_id",
    ).select(
        "event_type",
        "hi",
        F.md5(
            F.concat(
                F.col("hi").cast("string"),
                F.lit("_"),
                F.col("user_id").cast("string"),
            )
        ).alias("h"),
    )
    sig = hashed.groupBy("event_type", "hi").agg(F.min("h").alias("mh"))
    a = sig.select(
        F.col("event_type").alias("type_a"), "hi", F.col("mh").alias("mh_a")
    )
    b = sig.select(
        F.col("event_type").alias("type_b"), "hi", F.col("mh").alias("mh_b")
    )
    est = (
        a.join(b, "hi")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.round(
                F.sum((F.col("mh_a") == F.col("mh_b")).cast("long"))
                / F.lit(float(SET_MINHASHES)),
                6,
            ).alias("est_jaccard")
        )
    )
    sz = su.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sa = su.select(F.col("event_type").alias("type_a"), "user_id")
    sb = su.select(F.col("event_type").alias("type_b"), "user_id")
    tru = (
        sa.join(sb, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    zb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    true_j = F.col("n_inter") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return (
        est.join(tru, ["type_a", "type_b"])
        .join(F.broadcast(za), "type_a")
        .join(F.broadcast(zb), "type_b")
        .select(
            "type_a",
            "type_b",
            "est_jaccard",
            F.round(true_j, 6).alias("true_jaccard"),
            (F.abs(F.col("est_jaccard") - true_j) <= 0.29).alias("within_2se"),
        )
    )


# ---------------------------------------------------------------------------
# Threshold sweep — dedup-pipeline tuning in one pass
# ---------------------------------------------------------------------------


@register(
    "dedup_threshold_sweep",
    "dedup",
    oracle=f"""
    WITH pairs AS ({_LSH_PAIRS_SQL}),
    sh AS (
      SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS s FROM documents
    ),
    jac AS (
      SELECT CAST(least(floor(
               (CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                len(list_distinct(list_concat(a.s, b.s)))) * 10), 9) AS BIGINT)
             AS band
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b
    )
    SELECT band, round(band / 10.0, 1) AS band_lo,
           count(*) AS n_pairs,
           CAST(sum(count(*))
                OVER (ORDER BY band DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_at_or_above
    FROM jac
    GROUP BY band
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning in ONE pass: exact Jaccard for every LSH
    candidate pair, bucketed into 0.1-wide similarity bands with a
    cumulative pairs-at-or-above count per band — the curve an operator
    reads to pick the near-dup cutoff (how many pairs would a 0.8
    threshold remove vs 0.6?) without re-running the pipeline per
    candidate threshold.

    Scale shape: identical cost to `dedup_lsh_jaccard_verified` (the
    verification join over the capped candidate set) plus a ~10-row
    window — the sweep is free relative to one fixed-threshold run, which
    is the point."""
    docs = _docs(spark, sf_dir)
    pairs = lsh_candidate_pairs(docs)
    sh = shingle_rows(docs).groupBy("doc_id").agg(F.collect_set("sh").alias("s"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = (
        F.size(F.array_intersect(F.col("a.s"), F.col("b.s"))).cast("double")
        / F.size(F.array_distinct(F.concat(F.col("a.s"), F.col("b.s"))))
    )
    banded = (
        pairs.join(a, pairs.doc_a == F.col("a.doc_id"))
        .join(b, pairs.doc_b == F.col("b.doc_id"))
        .select(F.least(F.floor(jac * 10), F.lit(9)).cast("long").alias("band"))
    )
    counts = banded.groupBy("band").agg(F.count(F.lit(1)).alias("n_pairs"))
    w = W.orderBy(F.col("band").desc()).rowsBetween(W.unboundedPreceding, 0)
    return counts.select(
        "band",
        F.round(F.col("band") / 10.0, 1).alias("band_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_at_or_above"),
    )


# ---------------------------------------------------------------------------
# SimHash Hamming-radius candidate search (pigeonhole blocks)
# ---------------------------------------------------------------------------

SH_HAMMING_RADIUS = 3  # 4 blocks guarantee recall for distance <= 3
SH_BLOCK_CAP = 64  # bucket cap, same rationale as LSH_BUCKET_CAP
SH_PLANT_EVERY = 50
SH_PLANT_OFFSET = 5_000_000

_SH_PLANTED_SRC = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {SH_PLANT_OFFSET},
         array_to_string(list_slice(string_split(text, ' '), 1,
             len(string_split(text, ' ')) - 1), ' ')
  FROM documents WHERE doc_id % {SH_PLANT_EVERY} = 0
)"""

_SH_BLOCKS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, simhash32, {b} AS blk,"
    f" (simhash32 >> {8 * b}) & 255 AS v FROM sh"
    for b in range(4)
)


@register(
    "dedup_simhash_hamming",
    "dedup",
    oracle=f"""
    WITH sh AS ({_simhash_sql(_SH_PLANTED_SRC)}),
    blocks AS ({_SH_BLOCKS_SQL}),
    capped AS (
      SELECT * FROM blocks
      QUALIFY row_number() OVER (PARTITION BY blk, v ORDER BY doc_id)
              <= {SH_BLOCK_CAP}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash32 AS sa, b.simhash32 AS sb
      FROM capped a JOIN capped b
        ON a.blk = b.blk AND a.v = b.v AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM pairs
    WHERE bit_count(xor(sa, sb)) <= {SH_HAMMING_RADIUS}
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup retrieval at Hamming radius {SH_HAMMING_RADIUS}
    via the pigeonhole block trick: split the 32-bit fingerprint into 4
    8-bit blocks — any two fingerprints within distance 3 must agree on at
    least one WHOLE block, so candidate pairs come from equi-joins on
    (block_id, block_value) buckets and only candidates pay the exact
    bit_count(xor) check.  This is the classic web-scale simhash dedup
    layout (block-partitioned fingerprint tables, no all-pairs scan);
    buckets are capped at {SH_BLOCK_CAP} like the LSH path, mirrored in
    the oracle.  Every {SH_PLANT_EVERY}th doc plants a one-token-shorter
    copy so the positive path is exercised on the synthetic corpus
    (a dropped word flips only the bits where that word's vote was
    decisive — a small, nonzero Hamming distance).

    Scale: fingerprints are one explode + two keyed aggregations per doc;
    the block join shuffles 12-byte rows on an 8-bit-keyed space, and the
    verification is O(candidates)."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    planted = d.where(F.col("doc_id") % SH_PLANT_EVERY == 0).select(
        (F.col("doc_id") + SH_PLANT_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(planted)
    sh = simhash_fingerprints(corpus)
    blocks = sh.select(
        "doc_id",
        "simhash32",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.expr(f"shiftright(simhash32, {8 * b}) & 255").alias("v"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash32", F.col("bv.blk").alias("blk"), F.col("bv.v").alias("v"))
    bucket_w = W.partitionBy("blk", "v").orderBy("doc_id")
    capped = (
        blocks.withColumn("rn", F.row_number().over(bucket_w))
        .where(F.col("rn") <= SH_BLOCK_CAP)
        .drop("rn")
    )
    a = capped.select(
        F.col("blk"), F.col("v"),
        F.col("doc_id").alias("doc_a"), F.col("simhash32").alias("sa"),
    )
    b = capped.select(
        F.col("blk"), F.col("v"),
        F.col("doc_id").alias("doc_b"), F.col("simhash32").alias("sb"),
    )
    pairs = (
        a.join(b, ["blk", "v"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
    )
    ham = F.bit_count(F.expr("sa ^ sb"))
    return (
        pairs.where(ham <= SH_HAMMING_RADIUS)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
    )
