"""Deduplication operators (SURVEY.md §2.C1/C2) — LLM-data-pipeline pack.

Exact dedup, MinHash+LSH near-dedup (shingle → minhash → band →
bucket-join → jaccard verify → connected components), SimHash, and
n-gram Jaccard — all expressed as shuffle-parallel DataFrame pipelines
(the V-SMART-Join pattern from PAPERS.md: similarity joins as ordinary
shuffle dataflows; no driver-side state).

Cross-engine determinism: every hash is md5 (the one hash function
Spark and DuckDB share bit-for-bit), so even the MinHash signatures
and LSH candidate pairs are DuckDB-oracle-checkable — the "min" of a
set of md5 hex strings is an order-independent, engine-independent
minhash. MLlib's MinHashLSH would work equally well as a library path
but is not byte-reproducible outside Spark; the md5 formulation is, and
it runs in whole-stage codegen.

At 100 TB: tokenize/shingle is map-side; the only shuffles are the
per-shingle explode→groupBy(doc) for signatures (combinable) and the
band-bucket self-join, whose fan-out is bounded by bucket size — the
standard scale-out LSH dedup shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import load_table

from argodb_mapreduce_spark.registry import register

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.7


# ---------------------------------------------------------------------------
# C1 — exact dedup by content hash.
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
    tags=("dedup",),
    doc="Exact dedup: sha256 content hash → keep min doc_id per hash (SURVEY.md §2.C1).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_exact_rows",
    oracle="""
    SELECT lang, source, MIN(doc_id) AS doc_id FROM documents GROUP BY lang, source
    """,
    tags=("dedup",),
    doc="Key-based exact dedup (dropDuplicates semantics with a deterministic survivor).",
)
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.min("doc_id").alias("doc_id"))
    )


# ---------------------------------------------------------------------------
# C2 — MinHash + LSH near-dedup.
# ---------------------------------------------------------------------------

#: A document's word-k-gram shingles, in order, from its token array ``tk``.
_SHINGLES = f"transform(sequence(0, size(tk) - {SHINGLE_K}), i -> concat_ws(' ', slice(tk, i + 1, {SHINGLE_K})))"


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tk): token arrays of the documents long enough for one shingle."""
    from argodb_mapreduce_spark.catalog import cpu_repartition

    # The fixture file is one unsplittable row group, so without this
    # the split+slice+explode below runs as ONE task (guide §2.2; r14
    # A/B: dedup_minhash_verified 2.81→2.08 s, dedup_containment
    # 3.21→2.42 s, paired same-window min-of-3). The spread hashes on
    # doc_id, so the per-document steps downstream (the (doc_id,
    # shingle) distinct, the signature and size aggregates) reuse its
    # partitioning and plan no exchange of their own.
    docs = cpu_repartition(
        load_table(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    )
    return docs.select("doc_id", F.split("text", " ").alias("tk")).filter(F.size("tk") >= SHINGLE_K)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) with distinct word-k-gram shingles per doc."""
    return (
        _doc_tokens(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(_SHINGLES)).alias("shingle"))
        .distinct()
    )


def _doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles): each document's distinct shingles as one
    array — ``_doc_shingles`` grouped per document, built per row with
    no explode and no aggregate. One row per document: doc_id is the
    documents key (``gen_scale_corpus`` writes ``range(n)``)."""
    return _doc_tokens(spark, sf_dir).select("doc_id", F.array_distinct(F.expr(_SHINGLES)).alias("shingles"))


# DuckDB list slices are INCLUSIVE: tk[i:i+K-1] is K tokens; the range
# bound and slice width both derive from SHINGLE_K so changing the
# constant cannot desynchronize the oracle from the Spark pipeline.
_SQL_SHINGLES = f"""
    SELECT DISTINCT doc_id, shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) t,
         UNNEST(list_transform(range(1, len(tk) - {SHINGLE_K - 2}),
                               i -> array_to_string(tk[i:i+{SHINGLE_K - 1}], ' '))) AS u(shingle)
    WHERE len(tk) >= {SHINGLE_K}
"""


# Universal-hash family over a 30-bit base hash: mh_j = (a_j·h + b_j) mod P.
# 30-bit operands keep every product < 2^60 — exact int64 in both engines
# (DuckDB raises on BIGINT overflow; Spark wraps — neither happens here).
# One md5 per shingle occurrence + 16 codegen'd mul/add/mod replaces 16
# md5s — ~8× less hash work on the hot path.
_MINHASH_P = 1073741789  # largest prime < 2^30
_MINHASH_AB = [((2654435761 * (j + 1)) % _MINHASH_P or 1, (40503 * (j + 7)) % _MINHASH_P) for j in range(N_HASHES)]
_H30 = 1 << 30


def _h30(shingle):
    """The 30-bit base hash of a shingle: its md5's first 15 hex digits mod 2^30."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % _H30


def _universal_hash(a: int, b: int):
    """mh_j of one base hash ``h``: (a·h + b) mod P."""
    return lambda h: (F.lit(a) * h + F.lit(b)) % _MINHASH_P


def _minhash_signature(shingles: DataFrame) -> DataFrame:
    """doc_id + mh0..mh{N-1}: integer minhash signature."""
    based = shingles.select("doc_id", _h30(F.col("shingle")).alias("h30"))
    aggs = [
        F.min(_universal_hash(a, b)(F.col("h30"))).alias(f"mh{j}")
        for j, (a, b) in enumerate(_MINHASH_AB)
    ]
    return based.groupBy("doc_id").agg(*aggs)


def _set_signature(sets: DataFrame) -> DataFrame:
    """``_minhash_signature`` of ``_doc_shingle_sets``, per row: mh_j is
    the ``array_min`` of the universal hash over the set's base hashes,
    the same values with no explode and no aggregate."""
    based = sets.select("doc_id", F.transform("shingles", _h30).alias("h30"))
    return based.select(
        "doc_id",
        *[
            F.array_min(F.transform("h30", _universal_hash(a, b))).alias(f"mh{j}")
            for j, (a, b) in enumerate(_MINHASH_AB)
        ],
    )


_SQL_SIGNATURE = (
    "SELECT doc_id, "
    + ", ".join(
        f"MIN(({a} * h30 + {b}) % {_MINHASH_P}) AS mh{j}" for j, (a, b) in enumerate(_MINHASH_AB)
    )
    + " FROM (SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % "
    + f"{_H30} AS h30 FROM ({_SQL_SHINGLES})) GROUP BY doc_id"
)


@register(
    "dedup_minhash_signature",
    oracle=_SQL_SIGNATURE,
    tags=("dedup", "minhash"),
    doc=f"MinHash signatures: {N_HASHES} hashes over {SHINGLE_K}-word shingles (min of md5 hex — engine-independent).",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_signature(_doc_shingles(spark, sf_dir))


def _band_table(sig: DataFrame) -> DataFrame:
    """Unpivot the signature into (doc_id, band, band_hash) — a single
    posexplode pass so the signature aggregation runs once, not per band."""
    hashes = [
        F.md5(F.concat_ws(",", *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]))
        for b in range(N_BANDS)
    ]
    return sig.select("doc_id", F.posexplode(F.array(*hashes)).alias("band", "band_hash"))


def _sql_band_table() -> str:
    parts = []
    for b in range(N_BANDS):
        concat = ", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        parts.append(f"SELECT doc_id, {b} AS band, md5(concat_ws(',', {concat})) AS band_hash FROM sig")
    return " UNION ALL ".join(parts)


def _candidate_pairs(spark: SparkSession, sf_dir: str, sig: DataFrame | None = None) -> DataFrame:
    """LSH candidates: distinct (a_id < b_id) sharing any band bucket."""
    bt = _band_table(sig if sig is not None else _minhash_signature(_doc_shingles(spark, sf_dir)))
    a = bt.alias("a")
    b = bt.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_hash") == F.col("b.band_hash")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


_SQL_CANDIDATES = f"""
    WITH sig AS ({_SQL_SIGNATURE}),
    bt AS ({{band_table}})
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bt a JOIN bt b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
""".replace("{band_table}", _sql_band_table())


@register(
    "dedup_minhash_pairs",
    oracle=_SQL_CANDIDATES,
    tags=("dedup", "minhash"),
    doc=(
        "LSH candidate pairs: band-bucket join over minhash signatures "
        f"({N_BANDS} bands × {ROWS_PER_BAND} rows). The classic shingle→minhash→band→bucket-join "
        "pipeline (SURVEY.md §2.C2), fully oracle-checked."
    ),
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _candidate_pairs(spark, sf_dir)


@register(
    "dedup_minhash_verified",
    oracle=f"""
    WITH cand AS ({_SQL_CANDIDATES}),
    sh AS ({_SQL_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.a_id
      JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
      GROUP BY c.a_id, c.b_id
    )
    SELECT i.a_id, i.b_id,
           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "minhash"),
    doc=(
        "LSH verify step: exact shingle-set Jaccard on the candidate pairs, "
        f"kept at >= {JACCARD_THRESHOLD}. Integer-count division is bit-deterministic."
    ),
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every branch reads per-document shingle SETS, one array per doc:
    # the signature is an array_min per row, |A| is size(), and |A ∩ B|
    # is size(array_intersect) per candidate pair (a pair sharing no
    # shingle scores 0 and is dropped, as the oracle's inner join drops
    # it). The doc_id-hashed spread is the only shuffle, so there is no
    # exchange above it for the branches to reuse: each branch Spark
    # runs separately (both sides of the band self-join, the verify
    # broadcast) repeats only per-row array work, never an explode and
    # its distinct aggregate. No persist() — an explicit cache would
    # outlive the query in a long-lived session (VERDICT r3 #1).
    sets = _doc_shingle_sets(spark, sf_dir)
    cand = _candidate_pairs(spark, sf_dir, sig=_set_signature(sets))
    a = sets.alias("a")
    b = sets.alias("b")
    n_inter = F.size(F.array_intersect("a.shingles", "b.shingles"))
    jac = n_inter.cast("double") / (F.size("a.shingles") + F.size("b.shingles") - n_inter)
    return (
        cand.join(a, F.col("a.doc_id") == F.col("a_id"))
        .join(b, F.col("b.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


_SQL_CLUSTERS = f"""
    WITH RECURSIVE cand AS ({_SQL_CANDIDATES}),
    edges AS (
      SELECT a_id AS a, b_id AS b FROM cand
      UNION
      SELECT b_id AS a, a_id AS b FROM cand
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster_id
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id
"""


@register(
    "dedup_minhash_clusters",
    oracle=_SQL_CLUSTERS,
    tags=("dedup", "minhash", "iterative"),
    doc=(
        "Near-dup clusters: connected components over LSH pairs via "
        "iterative min-label propagation (cluster_id = min doc_id in "
        "component — SURVEY.md §7 risk 2). The oracle is a recursive-CTE "
        "transitive closure, so even this iterative op is hash-checked."
    ),
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = _candidate_pairs(spark, sf_dir)
    labels = min_label_components(
        docs.select(F.col("doc_id").alias("id")),
        pairs,
        caller="dedup_minhash_clusters",
    )
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


def _index_summary(idx: DataFrame, full: DataFrame) -> DataFrame:
    """Per-band index summary + the incremental-equals-full multiset
    proof as ONE lazy plan (r15, guide §1.2/§2.4). The previous eager
    ``multiset_equal`` collect ran a separate job that evaluated BOTH
    the stored index and the expensive from-scratch full-index rebuild,
    and then the summary scanned the index again; the proof is now a
    1-row broadcast cross-joined onto the grouped summary — identical
    values, one action. Shared by the four dedup_index_through_* /
    dedup_index_cdf_maintenance queries."""
    from argodb_mapreduce_spark.functions.oracle_safe import multiset_equal_frame

    flag = multiset_equal_frame(idx, full, "incremental_equals_full")
    return (
        idx.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.countDistinct("band_hash").alias("n_buckets"),
        )
        .crossJoin(F.broadcast(flag))
    )


def min_label_components(
    vertices: DataFrame, pairs: DataFrame, caller: str, max_rounds: int = 20
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``vertices``: one ``id`` column; ``pairs``: undirected edges as
    (a_id, b_id). Returns (id, cluster_id) where cluster_id is the min
    id in the component (singletons label themselves). Converges in
    O(component diameter) rounds; localCheckpoint truncates lineage so
    plans stay bounded. If the cap is hit without convergence we raise
    instead of returning wrong labels (ADVICE r1): a 100 TB run with
    longer chains must fail loud.
    """
    # No distinct() on the edge set: both producers already emit unique
    # (a_id < b_id) pairs (the minhash candidates are DISTINCT by
    # construction, the embedding LSH emits each pair from its min
    # colliding band only), and min-label propagation is idempotent
    # under duplicate edges anyway — F.min over a group is unchanged by
    # repeated rows. The distinct was a full O(E) shuffle spent
    # deduplicating nothing.
    edges = (
        pairs.select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
        .unionAll(pairs.select(F.col("b_id").alias("a"), F.col("a_id").alias("b")))
        .localCheckpoint()
    )
    # Iterate ONLY over edge-touched vertices: a vertex with no edge can
    # never change its label, so carrying the full corpus through every
    # round is O(corpus x rounds) shuffle for nothing — at 100 TB the
    # near-dup edge set is orders of magnitude smaller than the vertex
    # set. Singletons re-join (labeled by themselves) after convergence.
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint()
    )
    converged = False
    # AQE OFF inside the propagation loop (r14): with AQE on, every
    # Exchange in a round's plan materializes as its own query-stage
    # job — measured ~8 jobs/round here vs 2 without — and the loop
    # pays that re-planning EVERY round at any scale. The inputs are
    # localCheckpointed and the per-round plan shape is fixed, so AQE
    # has nothing to adapt: its two benefits (partition coalescing,
    # skew splits) don't apply to a bounded edge set that was already
    # materialized, and groupBy's map-side partial aggregation absorbs
    # hot-label skew. Iterative-loop-disables-AQE is standard practice
    # for fixed-shape rounds; the setting is restored on exit so the
    # surrounding query keeps the session's planning behavior.
    sess = vertices.sparkSession
    # Scale the loop's shuffle width to the EDGE COUNT, not the session
    # default (guide §2.2/§2.5: derive partitioning from input size).
    # The edge set is already materialized (localCheckpoint), so its
    # count is a cheap scan; ~2M edge rows per partition keeps tasks in
    # the healthy range at any scale (1 partition for a 500-pair
    # near-dup set, hundreds for a 10⁹-edge corpus). Without this,
    # every round shuffles the session's full partition count of
    # near-empty partitions and AQE re-plans each exchange as its own
    # query-stage job — at sf0.1 that was ~8 jobs/round for ~100 edges.
    n_edges = edges.count()
    _mut = {}
    _loop_conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(
            max(1, min(int(sess.conf.get("spark.sql.shuffle.partitions", "200")),
                       -(-n_edges // 2_000_000)))
        ),
    }
    for k, v in _loop_conf.items():
        try:
            _mut[k] = sess.conf.get(k, None)
            sess.conf.set(k, v)
        except Exception:  # noqa: BLE001 - immutable conf: keep as-is
            _mut.pop(k, None)
    try:
        converged, labels = _propagate_rounds(edges, labels, max_rounds)
    finally:
        for k, prev in _mut.items():
            try:
                if prev is None:
                    sess.conf.unset(k)
                else:
                    sess.conf.set(k, prev)
            except Exception:  # noqa: BLE001
                pass
    if not converged:
        raise RuntimeError(
            f"{caller}: min-label propagation did not converge within "
            f"{max_rounds} rounds — component diameter exceeds the cap; raise "
            "the round limit rather than returning partial labels"
        )
    return vertices.join(labels, vertices.id == labels.id, "left").select(
        vertices.id.alias("id"),
        F.coalesce(labels.cluster_id, vertices.id).alias("cluster_id"),
    )


def _propagate_rounds(edges: DataFrame, labels: DataFrame, max_rounds: int):
    """The propagate+compress rounds of :func:`min_label_components`,
    split out so the caller can scope planner settings around them.
    Returns ``(converged, labels)``."""
    converged = False
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        propagated = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least("cluster_id", F.coalesce("nbr_min", "cluster_id")).alias("cluster_id"),
            (F.coalesce("nbr_min", "cluster_id") < F.col("cluster_id")).alias("chg_prop"),
        )
        # Pointer-jumping compression: re-label through the label of the
        # current label (labels only ever decrease toward the component
        # min and always carry the id of a touched vertex, so node
        # cluster_id's own row exists and its label is <= cluster_id).
        # Propagate+compress halves the effective diameter each round —
        # O(log d) rounds instead of O(d) for chain-shaped components.
        # The changed flag rides the same checkpoint materialization, so
        # the convergence probe is a filter-scan of checkpointed rows
        # (no join, no shuffle).
        parent = propagated.select(
            F.col("id").alias("cluster_id"), F.col("cluster_id").alias("via")
        )
        new_labels = (
            propagated.join(parent, "cluster_id", "left")
            .select(
                "id",
                F.least("cluster_id", F.coalesce("via", "cluster_id")).alias("cluster_id"),
                (
                    F.col("chg_prop") | (F.coalesce("via", "cluster_id") < F.col("cluster_id"))
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("changed").limit(1).count()
        labels = new_labels.select("id", "cluster_id")
        if changed == 0:
            converged = True
            break
    return converged, labels


@register(
    "dedup_minhash_survivors",
    oracle=f"""
    WITH clusters AS ({_SQL_CLUSTERS})
    SELECT cluster_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM clusters GROUP BY cluster_id
    """,
    tags=("dedup", "minhash", "iterative"),
    doc=(
        "The deduped corpus: one surviving representative per near-dup "
        "cluster (the min doc_id) with its member count — the end "
        "product a curation pipeline actually keeps, composed from the "
        "same label propagation as dedup_minhash_clusters. A user joins "
        "this back to documents to materialize the cleaned table; "
        "n_members > 1 rows are exactly the collapsed duplicate groups."
    ),
)
def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = dedup_minhash_clusters(spark, sf_dir)
    return labels.groupBy(F.col("cluster_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


# ---------------------------------------------------------------------------
# C2 — SimHash fingerprints (64-bit, from md5 bit votes).
# ---------------------------------------------------------------------------

def _duck_bit_vote(j: int) -> str:
    p, k = j // 4 + 1, j % 4
    return (
        f"CASE WHEN (((instr('0123456789abcdef', substring(md5h, {p}, 1)) - 1) >> {k}) & 1) = 1 "
        f"THEN 1 ELSE -1 END"
    )


_SQL_SIMHASH = (
    "SELECT doc_id, "
    + " || ".join(f"(CASE WHEN SUM({_duck_bit_vote(j)}) >= 0 THEN '1' ELSE '0' END)" for j in range(64))
    + " AS simhash FROM ("
    "SELECT DISTINCT doc_id, md5(tok) AS md5h FROM ("
    "SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)"
    ") GROUP BY doc_id"
)


@register(
    "dedup_simhash",
    oracle=_SQL_SIMHASH,
    tags=("dedup", "simhash"),
    doc=(
        "SimHash: 64-bit fingerprint from per-token md5 bit votes over "
        "distinct tokens (Charikar's scheme, unweighted). Single-pass "
        "map+groupBy — no joins, scales linearly."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Fast bit extraction: parse the two 8-hex-digit halves to 32-bit ints
    # once (conv), then each of the 64 bit votes is a shift+mask on a long
    # — same VALUES as the oracle's per-digit instr() formulation, but all
    # inside whole-stage codegen with 2 parses instead of 64 substrings.
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .select(
            "doc_id",
            F.conv(F.expr("substring(md5(tok), 1, 8)"), 16, 10).cast("long").alias("h1"),
            F.conv(F.expr("substring(md5(tok), 9, 8)"), 16, 10).cast("long").alias("h2"),
        )
    )

    def bit(j: int):
        # digit p = j//4 + 1 (1-based hex char), bit k = j%4 of its value;
        # char p of an 8-digit half holds nibble (8-p) of the parsed int.
        half, p_local = ("h1", j // 4) if j < 32 else ("h2", j // 4 - 8)
        shift = (7 - p_local) * 4 + (j % 4)
        return F.shiftright(F.col(half), shift).bitwiseAND(F.lit(1))

    votes = [F.sum(bit(j) * 2 - 1).alias(f"v{j}") for j in range(64)]
    bits = [F.when(F.col(f"v{j}") >= 0, "1").otherwise("0") for j in range(64)]
    return toks.groupBy("doc_id").agg(*votes).select("doc_id", F.concat(*bits).alias("simhash"))


_HAMMING = " + ".join(
    f"(CASE WHEN substring(a.simhash, {p}, 1) = substring(b.simhash, {p}, 1) THEN 0 ELSE 1 END)"
    for p in range(1, 65)
)

_SQL_SIMHASH_PAIRS = f"""
    WITH sh AS ({_SQL_SIMHASH}),
    bands AS (
      SELECT doc_id, band, substring(simhash, band * 16 + 1, 16) AS chunk
      FROM sh, UNNEST([0, 1, 2, 3]) AS u(band)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands x JOIN bands y ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
    )
    SELECT c.a_id, c.b_id, ({_HAMMING}) AS hamming
    FROM cand c JOIN sh a ON a.doc_id = c.a_id JOIN sh b ON b.doc_id = c.b_id
    WHERE ({_HAMMING}) <= 6
"""


@register(
    "dedup_simhash_pairs",
    oracle=_SQL_SIMHASH_PAIRS,
    tags=("dedup", "simhash"),
    doc=(
        "SimHash near-dup pairs: 4×16-bit band blocking (a pair within "
        "hamming<=3 of 64 bits must share a band; <=6 catches most) then "
        "exact hamming verify. Same block→verify shape as MinHash LSH."
    ),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dedup_simhash(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
    ).withColumn("chunk", F.expr("substring(simhash, band * 16 + 1, 16)"))
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(y, (F.col("x.band") == F.col("y.band")) & (F.col("x.chunk") == F.col("y.chunk")))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a_id"),
            F.col("y.doc_id").alias("b_id"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = sum(
        (F.when(F.expr(f"substring(sh_a, {p}, 1) = substring(sh_b, {p}, 1)"), 0).otherwise(1))
        for p in range(1, 65)
    )
    return cand.select("a_id", "b_id", hamming.alias("hamming")).filter(F.col("hamming") <= 6)


# ---------------------------------------------------------------------------
# C2 — n-gram Jaccard similarity join (exact, inverted-index pruned).
# ---------------------------------------------------------------------------

#: Document-frequency ceiling for the inverted-index join family. A
#: stop-shingle shared by df documents contributes df^2 join rows ALL
#: LANDING IN ONE REDUCER — at web scale a boilerplate shingle with
#: df=10^6 is a 10^12-row hot key, the one quantified scale-killer of
#: the shingle self-join shape. Dropping shingles above the ceiling
#: (from sizes AND the join, i.e. from the shingle universe, in both
#: engines) bounds the per-key blowup at MAX_SHINGLE_DF^2; pairs whose
#: every shared shingle is that common are boilerplate matches, not
#: near-dups — standard practice (e.g. suffix-array/minhash dedup
#: pipelines) accepts that loss. 1000 clears the sf=0.01 driver
#: fixture's max df (500 docs), so fixture results are unchanged while
#: the cap stays ACTIVE in the plan.
MAX_SHINGLE_DF = 1000


def cap_shingle_df(sh: DataFrame, max_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    QUALIFY-shaped: the df is a window COUNT over PARTITION BY shingle,
    so the cap rides the hash-partitioning-by-shingle the downstream
    inverted-index self-join needs anyway — the capped output is
    already shingle-partitioned, both join sides are the same subtree
    (ReusedExchange), and the join adds no further exchange. The first
    cut of this helper used groupBy(shingle)+broadcast-anti, which cost
    an extra full aggregation pass and blocked the exchange reuse
    (bench: +1.5 s on each consumer at sf=0.1). ``max_df=None``
    disables the cap.
    """
    if max_df is None:
        return sh
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
        .select(sh.columns)
    )


def _sql_capped_shingles(max_df: int = MAX_SHINGLE_DF) -> str:
    """DuckDB twin of cap_shingle_df over _SQL_SHINGLES: same shingle
    universe on both sides, so the cap can never desync the oracle."""
    return f"""
    SELECT doc_id, shingle FROM ({_SQL_SHINGLES})
    QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {max_df}
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_sql_capped_shingles()}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.a_id, i.b_id,
           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
    """,
    tags=("dedup", "jaccard"),
    doc=(
        "Exact n-gram Jaccard similarity join via the inverted-index "
        "(shingle self-join) pattern: only pairs sharing a shingle are "
        "materialized — the all-pairs cross join never happens — and "
        "shingles above the MAX_SHINGLE_DF document-frequency ceiling "
        "are excluded from the shingle universe (both engines), "
        "bounding the hot-key blowup a stop-shingle would cause."
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Note for sparse real corpora: pre-filtering shingles with document
    # frequency >= 2 before the self-join (they are the only ones that can
    # contribute to intersections) cuts the join input by the unique-
    # vocabulary fraction. This synthetic corpus draws from a 25-word
    # vocabulary — every shingle is shared — so the df>=2 prune is pure
    # overhead here and intentionally omitted; the df CEILING above is
    # the opposite-tail guard and stays active (SCALING.md).
    # sizes and the self-join both read the distinct() exchange once
    # (ReusedExchange) — no persist, nothing to leak (VERDICT r3 #1).
    sh = cap_shingle_df(_doc_shingles(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("a_id"))
        .join(sb, F.col("sb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# ---------------------------------------------------------------------------
# C2 — shingle containment join (doc-inside-doc detection).
# ---------------------------------------------------------------------------

#: Containment threshold: fraction of the SMALLER document's shingles
#: that appear in the other document.
CONTAINMENT_THRESHOLD = 0.8


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_sql_capped_shingles()}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.a_id, i.b_id,
           CAST(i.n_inter AS DOUBLE) / sa.n AS c_ab,
           CAST(i.n_inter AS DOUBLE) / sb.n AS c_ba
    FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE CAST(i.n_inter AS DOUBLE) / LEAST(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
    """,
    tags=("dedup", "containment"),
    doc=(
        "Shingle CONTAINMENT join (Broder): c_ab = |A∩B|/|A|, c_ba = "
        "|A∩B|/|B|, keep pairs where the smaller document is ≥"
        f"{CONTAINMENT_THRESHOLD:.0%} contained in the other. Catches "
        "doc-inside-doc duplication (quotes, boilerplate wrapping, "
        "re-posts with commentary) that symmetric Jaccard under-scores "
        "when lengths differ. Same inverted-index shape as "
        "dedup_ngram_jaccard — only pairs sharing a shingle materialize, "
        "never the cross join, and the MAX_SHINGLE_DF ceiling bounds "
        "the stop-shingle hot key; all three branches read the one "
        "shingle distinct() exchange (ReusedExchange)."
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = cap_shingle_df(_doc_shingles(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    c_ab = F.col("n_inter").cast("double") / F.col("sa.n")
    c_ba = F.col("n_inter").cast("double") / F.col("sb.n")
    c_small = F.col("n_inter").cast("double") / F.least(F.col("sa.n"), F.col("sb.n"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("a_id"))
        .join(sb, F.col("sb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", c_ab.alias("c_ab"), c_ba.alias("c_ba"))
        .filter(c_small >= CONTAINMENT_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# C2 — span-level exact dedup (exact-substring dedup approximation).
# ---------------------------------------------------------------------------

#: Tokens per span for span-level exact dedup. Non-overlapping fixed
#: windows: cheap (each token appears in exactly one span) and the
#: standard approximation of exact-substring dedup when the duplicated
#: region is >= 2*SPAN_TOKENS tokens long.
SPAN_TOKENS = 10


@register(
    "dedup_span_exact",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), spans AS (
      SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
             array_to_string(tk[i * {SPAN_TOKENS} + 1 : (i + 1) * {SPAN_TOKENS}], ' ') AS span_text
      FROM toks, UNNEST(range(0, CAST(ceil(len(tk) / {SPAN_TOKENS}.0) AS BIGINT))) AS u(i)
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
      FROM spans
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(STRING_AGG(CASE WHEN rn = 1 THEN span_text END, ' ' ORDER BY span_idx), '') AS dedup_text
    FROM ranked GROUP BY doc_id
    """,
    tags=("dedup", "span"),
    doc=(
        f"Span-level exact dedup (the RefinedWeb/exact-substring shape): "
        f"documents split into non-overlapping {SPAN_TOKENS}-token spans, "
        "spans deduplicated corpus-wide keep-first (doc_id, span_idx "
        "order), surviving spans reassembled per document. One shuffle "
        "on span_text (the keep-first window) + the per-doc regroup; "
        "span identity is the text itself so partial aggregation "
        "combines map-side. Finer-grained than document dedup: strips "
        "repeated boilerplate *inside* otherwise-unique documents."
    ),
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spans = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / {SPAN_TOKENS}.0) as int) - 1),"
                f" i -> concat_ws(' ', slice(split(text, ' '), i * {SPAN_TOKENS} + 1, {SPAN_TOKENS})))"
            )
        ).alias("span_idx", "span_text"),
    ).select("doc_id", F.col("span_idx").cast("long").alias("span_idx"), "span_text")
    w = Window.partitionBy("span_text").orderBy("doc_id", "span_idx")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("span_idx"), F.col("span_text"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x.span_text,
            ),
            " ",
        ).alias("dedup_text"),
    )


# ---------------------------------------------------------------------------
# C2 — blocked edit-distance (Levenshtein) fuzzy-duplicate join.
# ---------------------------------------------------------------------------

#: Length-band width (chars), head window compared by edit distance,
#: and the prefix/suffix block width. A pair is a candidate only if it
#: shares (lang, band) AND (first LEV_AFFIX_CHARS of the head OR last
#: LEV_AFFIX_CHARS of the head): an edit run that rewrites BOTH the
#: head's first and last 8 chars has almost certainly moved past
#: LEV_MAX_DIST anyway, so the dual-affix block keeps recall while
#: cutting within-block population from corpus/band-count to
#: exact-affix collisions. (The band-only block measured 46.9 s at
#: sf0.1 — ~15M candidate DPs; dual-affix finds the same sf0.01 pair
#: set in milliseconds.)
LEV_BAND_CHARS = 32
LEV_HEAD_CHARS = 120
LEV_AFFIX_CHARS = 8
LEV_MAX_DIST = 30


@register(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, n_chars // {LEV_BAND_CHARS} AS band,
             substr(text, 1, {LEV_HEAD_CHARS}) AS head
      FROM documents
    ), cand AS (
      SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.head AS ha, c.head AS hc
      FROM b a JOIN b c
        ON a.lang = c.lang AND a.band = c.band
       AND substr(a.head, 1, {LEV_AFFIX_CHARS}) = substr(c.head, 1, {LEV_AFFIX_CHARS})
       AND a.doc_id < c.doc_id
      UNION
      SELECT a.doc_id, c.doc_id, a.head, c.head
      FROM b a JOIN b c
        ON a.lang = c.lang AND a.band = c.band
       AND right(a.head, {LEV_AFFIX_CHARS}) = right(c.head, {LEV_AFFIX_CHARS})
       AND a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(ha, hc) AS BIGINT) AS edit_distance
    FROM cand
    WHERE levenshtein(ha, hc) <= {LEV_MAX_DIST}
    """,
    tags=("dedup", "fuzzy", "join"),
    doc=(
        f"Blocked edit-distance fuzzy-dup join: candidates share "
        f"(lang, {LEV_BAND_CHARS}-char length band) and an unchanged "
        f"{LEV_AFFIX_CHARS}-char head prefix OR suffix (two equi-join "
        f"blocking passes, union-deduped), then the {LEV_HEAD_CHARS}-"
        f"char heads are compared by Levenshtein <= {LEV_MAX_DIST}. "
        "Complements MinHash (token-set overlap) with a character-level "
        "edit signal that catches in-place typo edits token hashing "
        "misses."
    ),
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs under dual-affix blocking.

    Scale design: both blocking passes are equi-joins on
    (lang, band, affix) — quadratic only within exact affix collisions,
    the same bound class as the LSH band buckets; the band-only form
    was measured quadratic-per-(lang,band) at sf0.1 (46.9 s, ~15M
    candidate DPs) and is exactly the blow-up the affix keys remove.
    Recall: a <= LEV_MAX_DIST edit budget over a LEV_HEAD_CHARS head
    rarely rewrites both the first and last LEV_AFFIX_CHARS chars, and
    at sf0.01 the dual-affix pair set equals the exhaustive band-only
    set. The head cap bounds each surviving pair's DP at 120x120 cells
    regardless of document length. UNION (not UNION ALL) dedups pairs
    caught by both passes before the DP runs once per pair.
    """
    from argodb_mapreduce_spark.catalog import cpu_repartition

    # Spread the probe side (r15, guide §2.2): the blocking joins plan
    # as BroadcastHashJoins (the keyed side is a few MB), so the pair
    # EXPANSION and the per-pair Levenshtein DP run on the probe side's
    # scan partitions — ONE task on the single-row-group fixture at any
    # core count (x10 ladder: 112.6 s at 8c vs 114.2 s at 32c, ratio
    # 0.99). The row-group-gated doc_id-hashed spread gives the probe
    # side the session width; a real multi-row-group corpus skips it.
    b = cpu_repartition(
        load_table(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    ).select(
        "doc_id",
        "lang",
        (F.col("n_chars") / F.lit(LEV_BAND_CHARS)).cast("long").alias("band"),
        F.substring("text", 1, LEV_HEAD_CHARS).alias("head"),
    )
    # right() (not negative-position substring) for the suffix key:
    # both engines return the whole string when it is shorter than the
    # affix width, so short heads block consistently.
    with_keys = b.select(
        "doc_id",
        "lang",
        "band",
        "head",
        F.substring("head", 1, LEV_AFFIX_CHARS).alias("pfx"),
        F.expr(f"right(head, {LEV_AFFIX_CHARS})").alias("sfx"),
    )
    left = with_keys.alias("a")
    right_ = with_keys.alias("c")

    def block(key: str):
        return (
            left.join(
                right_,
                (F.col("a.lang") == F.col("c.lang"))
                & (F.col("a.band") == F.col("c.band"))
                & (F.col(f"a.{key}") == F.col(f"c.{key}"))
                & (F.col("a.doc_id") < F.col("c.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("c.doc_id").alias("doc_b"),
                F.col("a.head").alias("ha"),
                F.col("c.head").alias("hc"),
            )
        )

    cand = block("pfx").union(block("sfx")).distinct()
    dist = F.levenshtein(F.col("ha"), F.col("hc"))
    return cand.select(
        "doc_a", "doc_b", dist.cast("long").alias("edit_distance")
    ).filter(F.col("edit_distance") <= LEV_MAX_DIST)


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

CDC_K = 8    #: hash-window width (chars)
CDC_D = 64   #: boundary divisor -> expected chunk length ~CDC_D chars
CDC_B = 37   #: polynomial base (odd -> a unit mod the power-of-two divisor)


def _cdc_window_hash(pos: str, cast_int: bool) -> str:
    """Polynomial window hash at position ``pos``: Σ ascii(c_{pos+j}) ·
    CDC_B^j over the CDC_K-char window — pure integer arithmetic,
    identical in Spark and DuckDB. Replaces the original per-position
    md5 (one full digest per CHARACTER of the corpus), which made the
    query the second-slowest in the bench (2.9 s at sf0.1 → ~8 integer
    mul-adds per position instead). Max value 255·CDC_K·CDC_B^(CDC_K-1)
    < 2^48: no overflow in either engine."""
    idx = (lambda j: f"CAST({pos} + {j} AS INT)") if cast_int else (lambda j: f"{pos} + {j}")  # noqa: E501 - duckdb casts positions to INT
    # coefficients are CAST to BIGINT: the small powers parse as INT and
    # ascii()*INT would overflow 32 bits under ANSI mode
    return "(" + " + ".join(
        f"ascii(substring(text, {idx(j)}, 1)) * CAST({CDC_B ** j} AS BIGINT)"
        for j in range(CDC_K)
    ) + ")"


def _cdc_codes_hash(pos: str) -> str:
    """Spark form of the window hash over a precomputed ``codes`` int
    array: UTF8 ``substring(text, i, 1)`` must scan i bytes (O(L²)
    across a document — measured 4x slower than even per-position md5),
    while ``element_at(codes, i)`` is O(1). The codes array is built
    once per document; the values are identical to the substring form
    the oracle uses."""
    return "(" + " + ".join(
        f"element_at(codes, {pos} + {j}) * CAST({CDC_B ** j} AS BIGINT)"
        for j in range(CDC_K)
    ) + ")"


_CDC_HASH_DUCK = _cdc_window_hash("i", cast_int=True)

#: Shared DuckDB CTEs: seg (content-defined cut points per doc) and
#: chunks (one row per chunk occurrence). Both CDC queries build on it.
_SQL_CDC_CHUNKS = """
    seg AS (
        SELECT doc_id, text,
               list_concat(
                   list_concat(
                       [CAST(1 AS INT)],
                       [CAST(i AS INT)
                        FOR i IN range(2, GREATEST(LENGTH(text) - {K} + 2, 2))
                        IF {H} % {D} = 0]),
                   [CAST(LENGTH(text) + 1 AS INT)]) AS cuts
        FROM documents
        WHERE LENGTH(text) >= 1
    ),
    chunks AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(cuts)),
                   j -> substring(text, cuts[j], cuts[j + 1] - cuts[j]))) AS chunk
        FROM seg
    )
""".format(K=CDC_K, H=_CDC_HASH_DUCK, D=CDC_D)


def _cdc_chunks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk): the Spark twin of the _SQL_CDC_CHUNKS CTEs —
    per-row boundary detection over the precomputed code array, then
    one explode. The only shuffle is the cpu_repartition spread of the
    raw text (hashed on doc_id): the per-CHAR polynomial hash below is the package's
    heaviest codegen expression and the unsplittable single-row-group
    fixture otherwise runs it as one task (r14 A/B: dedup_cdc_chunks
    2.16→1.14 s, paired same-window min-of-3; guide §2.2)."""
    from argodb_mapreduce_spark.catalog import cpu_repartition

    d = cpu_repartition(
        load_table(spark, sf_dir, "documents"), sf_dir, "documents", "doc_id"
    ).filter(F.length("text") >= 1)
    h = _cdc_codes_hash("i")
    seg = d.select(
        "doc_id",
        "text",
        F.expr("transform(split(text, ''), c -> ascii(c))").alias("codes"),
    ).select(
        "doc_id",
        "text",
        F.expr(
            f"concat(array(1), "
            f"  filter(if(length(text) >= {CDC_K + 1}, sequence(2, length(text) - {CDC_K} + 1), array()), "
            f"         i -> {h} % {CDC_D} = 0), "
            f"  array(length(text) + 1))"
        ).alias("cuts"),
    )
    return seg.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(cuts) - 1), "
                "j -> substring(text, element_at(cuts, j), "
                "element_at(cuts, j + 1) - element_at(cuts, j)))"
            )
        ).alias("chunk"),
    )


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH {_SQL_CDC_CHUNKS}
    SELECT md5(chunk) AS chunk_hash,
           CAST(LENGTH(MIN(chunk)) AS INT) AS chunk_len,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM chunks
    GROUP BY md5(chunk)
    HAVING COUNT(*) > 1
    ORDER BY n_occ DESC, chunk_hash
    LIMIT 50
    """,
    tags=("dedup", "cdc", "chunking"),
    doc=(
        f"Content-defined chunking dedup (the LBFS/rsync/storage-dedup "
        f"primitive): a boundary falls BEFORE position i wherever the "
        f"polynomial hash of the {CDC_K}-char window at i is divisible "
        f"by {CDC_D}, so chunk edges depend on CONTENT, not offsets — "
        f"an insertion shifts one chunk instead of re-aligning every "
        f"fixed-size block downstream (the failure mode of "
        f"chunk_documents' fixed-width split). Duplicate chunks across "
        f"the corpus are then a plain hash groupBy. Expected chunk "
        f"length {CDC_D} chars; boundaries are engine-exact integer "
        f"mul-adds, chunk identity is engine-exact md5."
    ),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary detection, segmentation, and chunk hashing are all
    per-row array expressions inside whole-stage codegen — no explode
    until chunks exist, so the only shuffle is the final O(distinct
    chunks) map-combinable groupBy. At 100 TB: identical shape; the
    chunk-hash aggregate is the dedup-storage index build."""
    chunks = _cdc_chunks_df(spark, sf_dir)
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.length(F.min("chunk")).cast("int").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occ") > 1)
        .orderBy(F.desc("n_occ"), "chunk_hash")
        .limit(50)
    )


CDC_BATCH_MOD = 43  #: doc_id % MOD == 0 -> today's ingest batch (the
#: same held-out convention training_data.BENCH_MOD uses)


@register(
    "dedup_cdc_incremental",
    oracle=f"""
    WITH {{ctes}},
    hashed AS (SELECT doc_id, md5(chunk) AS h FROM chunks),
    corpus AS (SELECT DISTINCT h FROM hashed WHERE doc_id % {CDC_BATCH_MOD} <> 0),
    batch AS (SELECT * FROM hashed WHERE doc_id % {CDC_BATCH_MOD} = 0)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_ratio
    FROM batch b LEFT JOIN corpus c USING (h)
    GROUP BY b.doc_id
    """.replace("{ctes}", _SQL_CDC_CHUNKS),
    tags=("dedup", "cdc", "incremental"),
    doc=(
        f"Incremental CDC ingest dedup — the production use of "
        f"content-defined chunking: today's batch (doc_id % "
        f"{CDC_BATCH_MOD} == 0) is chunked and probed against the "
        f"corpus chunk-hash index; per new document, how many of its "
        f"chunks already exist anywhere in the corpus (byte-level "
        f"containment an exact doc-hash misses and MinHash only "
        f"estimates). High dup_ratio = re-crawled/boilerplate-shifted "
        f"content to drop before training."
    ),
)
def dedup_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest cost shape: the batch side is O(batch) rows; the
    corpus index is the big side and the probe is a chunk-hash
    equi-join (shuffle keyed on the hash — at 100 TB the index is
    bucketed by hash so the probe co-locates, and only the O(batch)
    side moves). Nothing rescans old documents' text."""
    chunks = _cdc_chunks_df(spark, sf_dir).select(
        "doc_id", F.md5("chunk").alias("h")
    )
    corpus = (
        chunks.filter(F.col("doc_id") % CDC_BATCH_MOD != 0)
        .select("h").distinct().withColumn("dup", F.lit(1))
    )
    batch = chunks.filter(F.col("doc_id") % CDC_BATCH_MOD == 0)
    return (
        batch.join(corpus, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0))).cast("long").alias("n_dup"),
            (
                F.sum(F.coalesce(F.col("dup"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_ratio"),
        )
    )


@register(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH sig AS ({_SQL_SIGNATURE}),
    bt AS ({{band_table}}),
    corpus_bt AS (SELECT doc_id AS corpus_id, band, band_hash FROM bt
                  WHERE doc_id % {CDC_BATCH_MOD} <> 0),
    batch_bt AS (SELECT doc_id AS batch_id, band, band_hash FROM bt
                 WHERE doc_id % {CDC_BATCH_MOD} = 0),
    cand AS (
      SELECT DISTINCT b.batch_id, c.corpus_id
      FROM batch_bt b JOIN corpus_bt c
        ON b.band = c.band AND b.band_hash = c.band_hash
    ),
    sh AS ({_SQL_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.batch_id, c.corpus_id, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.batch_id
      JOIN sh b ON b.doc_id = c.corpus_id AND b.shingle = a.shingle
      GROUP BY c.batch_id, c.corpus_id
    ),
    verified AS (
      SELECT i.batch_id, i.corpus_id,
             CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.batch_id
      JOIN sizes sb ON sb.doc_id = i.corpus_id
      WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)
            >= {JACCARD_THRESHOLD}
    ),
    n_cand AS (SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
               FROM cand GROUP BY batch_id),
    best AS (
      -- n_dup must be computed BEFORE the rn=1 filter: window functions in
      -- the same block as "WHERE rn = 1" would see only the surviving row.
      SELECT batch_id, corpus_id AS best_match_id, jaccard AS best_jaccard,
             n_dup
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY batch_id
                                         ORDER BY jaccard DESC, corpus_id) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY batch_id) AS BIGINT) AS n_dup
            FROM verified)
      WHERE rn = 1
    )
    SELECT nc.batch_id, nc.n_candidates,
           COALESCE(b.n_dup, 0) AS n_dup, b.best_match_id, b.best_jaccard
    FROM n_cand nc LEFT JOIN best b USING (batch_id)
    """.replace("{band_table}", _sql_band_table()),
    tags=("dedup", "minhash", "incremental"),
    doc=(
        f"Incremental MinHash LSH ingest dedup — the near-dup twin of "
        f"dedup_cdc_incremental: today's batch (doc_id % "
        f"{CDC_BATCH_MOD} == 0) is signed and probed against the "
        f"CORPUS band-bucket index only; batch-batch and corpus-corpus "
        f"pairs are never formed. Candidates are Jaccard-verified at "
        f">= {JACCARD_THRESHOLD}; per batch doc the output is its LSH "
        f"candidate count, verified-dup count, and best corpus match "
        f"(ties to the lower doc_id). O(batch) daily cost — nothing "
        f"re-pairs the old corpus against itself."
    ),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the corpus band index is precomputed/bucketed by
    (band, band_hash) in production, so the probe is a co-located
    equi-join in which only the O(batch) side moves; the verify join
    touches only candidate shingle sets. Same index, three consumers
    (signature, sizes, verify) — one exchange, reused."""
    sh = _doc_shingles(spark, sf_dir)
    bt = _band_table(_minhash_signature(sh))
    corpus_bt = bt.filter(F.col("doc_id") % CDC_BATCH_MOD != 0).select(
        F.col("doc_id").alias("corpus_id"), "band", "band_hash"
    )
    batch_bt = bt.filter(F.col("doc_id") % CDC_BATCH_MOD == 0).select(
        F.col("doc_id").alias("batch_id"), "band", "band_hash"
    )
    cand = (
        batch_bt.join(corpus_bt, ["band", "band_hash"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        cand.join(a, F.col("a.doc_id") == F.col("batch_id"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("corpus_id"))
            & (F.col("b.shingle") == F.col("a.shingle")),
        )
        .groupBy("batch_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = (
        inter.join(sizes.select(F.col("doc_id").alias("batch_id"), F.col("n").alias("na")), "batch_id")
        .join(sizes.select(F.col("doc_id").alias("corpus_id"), F.col("n").alias("nb")), "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    w = Window.partitionBy("batch_id").orderBy(F.desc("jaccard"), "corpus_id")
    best = (
        jac.withColumn("rn", F.row_number().over(w))
        .withColumn("n_dup", F.count(F.lit(1)).over(Window.partitionBy("batch_id")))
        .filter(F.col("rn") == 1)
        .select(
            "batch_id",
            F.col("corpus_id").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
            F.col("n_dup").cast("long"),
        )
    )
    n_cand = cand.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    return n_cand.join(best, "batch_id", "left").select(
        "batch_id",
        "n_candidates",
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup"),
        "best_match_id",
        "best_jaccard",
    )


# ---------------------------------------------------------------------------
# C1 — URL canonicalization dedup (web-crawl ingest).
# ---------------------------------------------------------------------------
#
# Web-crawl corpora carry the same page under many URL spellings:
# scheme variants, WWW. prefixes, host case, tracking query params
# (utm_*), fragments, trailing slashes. Canonicalize-then-group is the
# standard first dedup pass BEFORE any content hashing — it collapses
# refetches without reading a byte of body text. The whole pipeline is
# string expressions in whole-stage codegen; the only shuffle is the
# final groupBy on the canonical key (map-side combinable).

#: Deterministic synthetic URL per document (the documents fixture has
#: no URL column): spelling noise — scheme, WWW., host case, tracking
#: params, fragment, trailing slash — varies BY doc_id so every
#: canonical target has several raw variants, exactly reproducible in
#: SQL for the oracle.
_URL_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN 'https://' ELSE 'http://' END || "
    "CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END || "
    "source || '.Example.COM/docs/' || CAST(doc_id % 40 AS VARCHAR) || "
    "CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END || "
    "CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=' || CAST(doc_id AS VARCHAR) ELSE '' END || "
    "CASE WHEN doc_id % 7 = 0 THEN '#section-' || CAST(doc_id AS VARCHAR) ELSE '' END"
)


def canonicalize_url(url):
    """Aggressive crawl-style URL canonicalization as ONE codegen'd
    expression chain: lowercase FIRST (so WWW./HTTP:// spellings match
    the strip patterns), then drop fragment, drop query, strip scheme
    and a leading www., strip the trailing slash. (Lowercasing the path
    too is the aggressive variant common in crawl dedup; a
    host-only-lowercase variant is a one-line change.)"""
    c = F.lower(url)
    c = F.regexp_replace(c, "#.*$", "")
    c = F.regexp_replace(c, "\\?.*$", "")
    c = F.regexp_replace(c, "^https?://", "")
    c = F.regexp_replace(c, "^www\\.", "")
    return F.regexp_replace(c, "/+$", "")


_CANON_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(LOWER({u}), '#.*$', ''), '\\?.*$', ''), '^https?://', ''), "
    "'^www\\.', ''), '/+$', '')"
)


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id, {_URL_SQL} AS url FROM documents
    ),
    canon AS (
      SELECT doc_id, url, {_CANON_SQL.format(u='url')} AS canonical_url FROM urls
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_fetches,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_spellings,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
    FROM canon
    GROUP BY canonical_url
    """,
    tags=("dedup", "url", "curation"),
    doc=(
        "URL canonicalization dedup (crawl-ingest first pass): raw URLs "
        "with scheme/WWW./case/tracking-param/fragment/trailing-slash "
        "noise are canonicalized by one codegen'd regexp chain and "
        "grouped — n_fetches raw rows collapse to one canonical_url with "
        "n_spellings distinct raw forms, keeping the lowest doc_id. "
        "Collapses refetches before any content hash is computed."
    ),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: canonicalization is map-side string codegen; the one
    shuffle is the canonical-key groupBy (partial-agg combinable).
    100 TB of URLs dedup at scan speed — no content bytes read."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM/docs/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?utm_source=feed&utm_campaign="), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("#section-"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    # Explicit two-phase aggregation (per-spelling, then per-canonical)
    # instead of a mixed COUNT DISTINCT — two clean exchanges, both
    # map-side combinable, no distinct-expand.
    per_spelling = (
        d.select("doc_id", url.alias("url"))
        .select("doc_id", "url", canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url", "url")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc"))
    )
    return per_spelling.groupBy("canonical_url").agg(
        F.sum("n").cast("long").alias("n_fetches"),
        F.count(F.lit(1)).alias("n_spellings"),
        F.min("min_doc").cast("long").alias("keep_doc_id"),
    )


#: Prefix length for truncation-dup detection (chars).
PREFIX_K = 40


@register(
    "dedup_doc_prefix",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, text, md5(substring(text, 1, {PREFIX_K})) AS prefix_hash
      FROM documents
      WHERE LENGTH(text) >= {PREFIX_K}
    )
    SELECT prefix_hash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_full,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
           CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len
    FROM keyed
    GROUP BY prefix_hash
    HAVING COUNT(*) > 1
    """,
    tags=("dedup", "curation", "prefix"),
    doc=(
        f"Truncation-duplicate detection (crawl-ingest pass): documents "
        f"sharing their first {PREFIX_K} characters group by prefix "
        "hash; a group with n_distinct_full > 1 holds TRUE truncation/"
        "extension variants (same opening, different bodies — refetches "
        "cut at different lengths), which exact content hashing can "
        "never link and MinHash only links when the shared prefix "
        "dominates the shingle set. min_len/max_len expose the "
        "truncation spread; keep the longest (or lowest-id) variant. "
        "Complements dedup_exact (identical bodies), dedup_url_canonical "
        "(identical addresses), and dedup_span_exact (shared interior "
        "spans) as the fourth exact-family dedup axis."
    ),
)
def dedup_doc_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side substring+md5 per doc, one combinable
    groupBy on the prefix hash — identical shape to dedup_exact, never
    touches text beyond the prefix until a group is flagged."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= PREFIX_K
    )
    return (
        d.select(
            "doc_id",
            "text",
            F.md5(F.substring("text", 1, PREFIX_K)).alias("prefix_hash"),
        )
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_distinct_full"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.min(F.length("text")).cast("long").alias("min_len"),
            F.max(F.length("text")).cast("long").alias("max_len"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# CDF-driven dedup-index maintenance (round 10): the storage layer and
# the LLM-pipeline layer composed — subscribe to a versioned documents
# table's CHANGE DATA FEED and keep a STORED MinHash band index current
# at O(changes) per commit, never re-signing the corpus.
# ---------------------------------------------------------------------------


def _band_index_for(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash) for a set of documents — MinHash is
    per-document (no corpus coupling, unlike tf-idf), which is exactly
    why the index maintains incrementally.

    No ``distinct()`` on the shingles (r14): this pipeline feeds ONLY
    the MIN-aggregated signature, and MIN over a multiset equals MIN
    over its set — dropping the dedup removes a full shuffle of the
    shingle strings while the signature stays bit-identical (the
    shingle → md5 → group-min all happens map-side-partial now).
    Pipelines that consume shingle SETS (Jaccard sizes/intersections)
    keep their distinct — see _doc_shingles."""
    shingles = (
        docs.select("doc_id", F.split("text", " ").alias("tk"))
        .filter(F.size("tk") >= SHINGLE_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(tk) - {SHINGLE_K}), i -> concat_ws(' ', slice(tk, i + 1, {SHINGLE_K})))"
                )
            ).alias("shingle"),
        )
    )
    return _band_table(_minhash_signature(shingles))


def _build_cdf_index_fixture(spark: SparkSession, sf_dir: str):
    """documents as a 2-version versioned table (80% base + 20% append)
    with a STORED band index maintained from the change feed."""
    import os
    import tempfile

    from argodb_mapreduce_spark.catalog import fixture_stale, table_path
    from argodb_mapreduce_spark.sources.versioned import (
        MANIFEST,
        change_feed,
        snapshot_read,
        versioned_write,
        versions,
    )

    tag = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(tempfile.gettempdir(), "argodb_mapreduce_spark", tag)
    docs_tbl = os.path.join(root, "docs_cdf_store")
    idx_tbl = os.path.join(root, "docs_band_index")
    src = table_path(sf_dir, "documents")
    if (
        not fixture_stale(src, os.path.join(idx_tbl, MANIFEST))
        and os.path.exists(os.path.join(docs_tbl, MANIFEST))
        and len(versions(idx_tbl)) == 2
    ):
        return docs_tbl, idx_tbl
    import shutil

    shutil.rmtree(docs_tbl, ignore_errors=True)
    shutil.rmtree(idx_tbl, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    versioned_write(docs.filter(F.col("doc_id") % 5 != 0), docs_tbl)  # v0: 80%
    # index v0: sign the BASE corpus once
    versioned_write(_band_index_for(snapshot_read(spark, docs_tbl, 0)), idx_tbl)
    # day-2 ingest lands on the docs table...
    versioned_write(docs.filter(F.col("doc_id") % 5 == 0), docs_tbl, mode="append")
    # ...and the maintenance job consumes ONLY the change feed: the new
    # docs' bands append to the index — O(changes), the corpus is never
    # re-signed (MinHash has no corpus-level term like idf).
    delta = change_feed(spark, docs_tbl, 0, 1).filter(
        F.col("_change_type") == "insert"
    ).select("doc_id", "text")
    versioned_write(_band_index_for(delta), idx_tbl, mode="append")
    return docs_tbl, idx_tbl


@register(
    "dedup_index_cdf_maintenance",
    oracle=f"""
    WITH sig AS ({_SQL_SIGNATURE})
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(COUNT(DISTINCT band_hash) AS BIGINT) AS n_buckets,
           TRUE AS incremental_equals_full
    FROM ({_sql_band_table()}) GROUP BY band
    """,
    tags=("dedup", "minhash", "snapshot", "cdc", "incremental"),
    doc=(
        "CDF-DRIVEN INDEX MAINTENANCE (r10): the dedup band index lives "
        "as a versioned table; a day-2 append to the documents table is "
        "consumed through the CHANGE DATA FEED and ONLY the new docs "
        "are shingled/signed/banded and appended to the index — the "
        "O(changes) maintenance contract an MV gives aggregates, here "
        "for the LSH index a 100 TB dedup pipeline keeps hot. The "
        "incrementally-maintained index is proven EQUAL to a "
        "from-scratch index over the full corpus (exceptAll both ways, "
        "flag oracle-pinned) and its per-band entry/bucket counts are "
        "hash-checked against the oracle's full recompute."
    ),
)
def dedup_index_cdf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per commit the maintenance cost is the delta's shingling
    (O(new docs)) + one manifest append; the stored index is
    band-bucket-joinable for O(batch) probe dedup (dedup_incremental)
    without ever rebuilding. The storage seam (versioned store + CDF)
    and the pipeline seam (MinHash LSH) compose with no new machinery."""
    from argodb_mapreduce_spark.sources.versioned import snapshot_read

    docs_tbl, idx_tbl = _build_cdf_index_fixture(spark, sf_dir)
    idx = snapshot_read(spark, idx_tbl)  # v1: base build + CDF delta
    full = _band_index_for(snapshot_read(spark, docs_tbl))
    return _index_summary(idx, full)


def _build_delete_index_fixture(spark: SparkSession, sf_dir: str):
    """documents stored CDF-enabled, band index built at v0, then the
    doc_id % 9 == 0 documents are ERASED (set-based delete_keys) and
    the index drops their entries from the feed's delete legs — the
    GDPR path: an erasure request must purge the derived index too."""
    import os
    import tempfile

    from argodb_mapreduce_spark.catalog import fixture_stale, table_path
    from argodb_mapreduce_spark.sources.versioned import (
        MANIFEST,
        change_feed,
        delete_keys,
        enable_change_data_feed,
        snapshot_read,
        versioned_write,
        versions,
    )

    tag = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(tempfile.gettempdir(), "argodb_mapreduce_spark", tag)
    docs_tbl = os.path.join(root, "docs_del_store")
    idx_tbl = os.path.join(root, "docs_del_band_index")
    src = table_path(sf_dir, "documents")
    if (
        not fixture_stale(src, os.path.join(idx_tbl, MANIFEST))
        and os.path.exists(os.path.join(docs_tbl, MANIFEST))
        and len(versions(idx_tbl)) == 2
    ):
        return docs_tbl, idx_tbl
    import shutil

    shutil.rmtree(docs_tbl, ignore_errors=True)
    shutil.rmtree(idx_tbl, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    versioned_write(docs, docs_tbl)
    enable_change_data_feed(docs_tbl)
    versioned_write(_band_index_for(snapshot_read(spark, docs_tbl, 0)), idx_tbl)
    delete_keys(
        spark, docs_tbl, docs.filter(F.col("doc_id") % 9 == 0).select("doc_id"), "doc_id"
    )
    # Maintenance consumes ONLY the feed: the delete legs' doc_ids are
    # erased from the index with the same set-based DV delete — the
    # erasure cascades source -> derived table at O(erased keys).
    erased = (
        change_feed(spark, docs_tbl, 0, 1)
        .filter(F.col("_change_type") == "delete")
        .select("doc_id")
    )
    delete_keys(spark, idx_tbl, erased, "doc_id")
    return docs_tbl, idx_tbl


@register(
    "dedup_index_through_deletes",
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 9 <> 0),
    sig AS ({_SQL_SIGNATURE.replace("FROM documents", "FROM docs")})
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(COUNT(DISTINCT band_hash) AS BIGINT) AS n_buckets,
           TRUE AS incremental_equals_full
    FROM ({_sql_band_table()}) GROUP BY band
    """,
    tags=("dedup", "minhash", "snapshot", "cdc", "incremental", "delete"),
    doc=(
        "INDEX MAINTENANCE THROUGH DELETES (the GDPR cascade): erasing "
        "documents is a set-based delete_keys on the CDF-enabled store; "
        "the index job consumes the change feed's delete legs and "
        "erases the same doc_ids from the stored band index with "
        "another delete_keys — an O(erased keys) DV commit on the "
        "index, no rebuild, no rewrite. With r10's append maintenance "
        "and r11b's update maintenance this completes the symmetry: "
        "the derived index tracks its base through ALL THREE change "
        "kinds at O(changes). Maintained index exceptAll-proven equal "
        "to a rebuild over the post-delete corpus; per-band counts "
        "oracle-checked."
    ),
)
def dedup_index_through_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the erasure cascade costs one broadcast semi-join scan of
    the index + an O(K) sidecar — the right-to-be-forgotten path for
    every derived table a 100 TB corpus keeps (indexes, MVs, replicas),
    all driven from one change feed."""
    from argodb_mapreduce_spark.sources.versioned import snapshot_read

    docs_tbl, idx_tbl = _build_delete_index_fixture(spark, sf_dir)
    idx = snapshot_read(spark, idx_tbl)
    full = _band_index_for(snapshot_read(spark, docs_tbl))
    return _index_summary(idx, full)


def _build_restore_index_fixture(spark: SparkSession, sf_dir: str):
    """documents stored CDF-enabled, band index built at v0, the
    doc_id % 9 == 0 documents ERASED and the erasure cascaded into the
    index (the GDPR path), then the store is RESTORED to v0 — the
    feed's synthesized RESURRECTION insert legs re-sign and MERGE the
    revived docs' band rows back, so the derived index tracks its base
    through the restore at O(restored changes)."""
    import os
    import tempfile

    from argodb_mapreduce_spark.catalog import fixture_stale, table_path
    from argodb_mapreduce_spark.sources.versioned import (
        MANIFEST,
        change_feed,
        delete_keys,
        enable_change_data_feed,
        merge_upsert,
        rollback,
        snapshot_read,
        versioned_write,
        versions,
    )

    tag = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(tempfile.gettempdir(), "argodb_mapreduce_spark", tag)
    docs_tbl = os.path.join(root, "docs_rst_store")
    idx_tbl = os.path.join(root, "docs_rst_band_index")
    src = table_path(sf_dir, "documents")
    # Terminal-state cache (r14, the same mtime-keyed staging contract
    # its through_deletes/through_updates siblings already use): the
    # cascade's end state is deterministic — docs at v2 (write, erase,
    # RESTORE), index at v2 (build, erase-cascade, resurrection MERGE)
    # — so a completed fixture is reusable as-is; only a source-fixture
    # change invalidates it. Previously rebuilt every call (the full
    # corpus re-sign was the single largest cost of the query).
    if (
        not fixture_stale(src, os.path.join(idx_tbl, MANIFEST))
        and os.path.exists(os.path.join(docs_tbl, MANIFEST))
        and versions(docs_tbl) == [0, 1, 2]
        and versions(idx_tbl) == [0, 1, 2]
    ):
        return docs_tbl, idx_tbl
    import shutil

    shutil.rmtree(docs_tbl, ignore_errors=True)
    shutil.rmtree(idx_tbl, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    versioned_write(docs, docs_tbl)
    enable_change_data_feed(docs_tbl)
    versioned_write(_band_index_for(snapshot_read(spark, docs_tbl, 0)), idx_tbl)
    delete_keys(
        spark, docs_tbl, docs.filter(F.col("doc_id") % 9 == 0).select("doc_id"), "doc_id"
    )  # v1: the erasure
    erased = (
        change_feed(spark, docs_tbl, 0, 1)
        .filter(F.col("_change_type") == "delete")
        .select("doc_id")
    )
    delete_keys(spark, idx_tbl, erased, "doc_id")  # cascade
    rollback(docs_tbl, 0)  # v2: RESTORE undoes the erasure
    # Maintenance consumes ONLY the feed: the restore's synthesized
    # resurrection insert legs re-sign, and a doc_id-keyed MERGE puts
    # each revived doc's band rows back — O(revived docs).
    revived = (
        change_feed(spark, docs_tbl, 1, 2)
        .filter(F.col("_change_type") == "insert")
        .select("doc_id", "text")
    )
    merge_upsert(spark, idx_tbl, _band_index_for(revived), "doc_id")
    return docs_tbl, idx_tbl


@register(
    "dedup_index_through_restore",
    oracle=f"""
    WITH sig AS ({_SQL_SIGNATURE})
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(COUNT(DISTINCT band_hash) AS BIGINT) AS n_buckets,
           TRUE AS incremental_equals_full
    FROM ({_sql_band_table()}) GROUP BY band
    """,
    tags=("dedup", "minhash", "snapshot", "cdc", "incremental", "restore"),
    doc=(
        "INDEX MAINTENANCE THROUGH RESTORE (r13 composition, completing "
        "the GDPR cascade's inverse): after an erasure cascaded into "
        "the band index, the source table is RESTORED to its pre-delete "
        "version — the feed's synthesized RESURRECTION insert legs "
        "re-sign the revived documents and a doc_id-keyed MERGE puts "
        "their band rows back, O(revived docs), no corpus re-sign, no "
        "index rebuild. With append (r10), update (r11b) and delete "
        "(r11b) maintenance this closes the loop: the derived index "
        "tracks its base through EVERY transition the feed expresses, "
        "restores included. Maintained index exceptAll-proven equal to "
        "a rebuild over the restored corpus; per-band counts "
        "oracle-checked."
    ),
)
def dedup_index_through_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the resurrection cascade costs the restore's change
    volume (re-sign + keyed merge of the revived docs), never the
    corpus — an accidental-deletion recovery on a 100 TB store heals
    its derived indexes from the same feed that healed the table."""
    from argodb_mapreduce_spark.sources.versioned import snapshot_read

    docs_tbl, idx_tbl = _build_restore_index_fixture(spark, sf_dir)
    idx = snapshot_read(spark, idx_tbl)
    full = _band_index_for(snapshot_read(spark, docs_tbl))
    return _index_summary(idx, full)


_REVISION_SUFFIX = " freshly revised edition"


def _build_update_index_fixture(spark: SparkSession, sf_dir: str):
    """documents stored CDF-enabled, band index built at v0, then the
    doc_id < 40 documents are REVISED (text UPDATE) and the index is
    maintained from the update's change-feed postimages — a keyed
    MERGE, so each revised doc's stale band rows are replaced in one
    commit."""
    import os
    import tempfile

    from argodb_mapreduce_spark.catalog import fixture_stale, table_path
    from argodb_mapreduce_spark.sources.versioned import (
        MANIFEST,
        change_feed,
        enable_change_data_feed,
        merge_upsert,
        snapshot_read,
        update_where,
        versioned_write,
        versions,
    )

    tag = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(tempfile.gettempdir(), "argodb_mapreduce_spark", tag)
    docs_tbl = os.path.join(root, "docs_upd_store")
    idx_tbl = os.path.join(root, "docs_upd_band_index")
    src = table_path(sf_dir, "documents")
    if (
        not fixture_stale(src, os.path.join(idx_tbl, MANIFEST))
        and os.path.exists(os.path.join(docs_tbl, MANIFEST))
        and len(versions(idx_tbl)) == 2
    ):
        return docs_tbl, idx_tbl
    import shutil

    shutil.rmtree(docs_tbl, ignore_errors=True)
    shutil.rmtree(idx_tbl, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    versioned_write(docs, docs_tbl)
    enable_change_data_feed(docs_tbl)
    versioned_write(_band_index_for(snapshot_read(spark, docs_tbl, 0)), idx_tbl)
    update_where(
        spark,
        docs_tbl,
        [("doc_id", "<", 40)],
        {"text": F.concat(F.col("text"), F.lit(_REVISION_SUFFIX))},
    )
    # Maintenance consumes ONLY the feed: postimage docs re-sign, and a
    # doc_id-keyed MERGE replaces each revised doc's old band rows with
    # its new ones in one commit — stale entries cannot linger and new
    # ones cannot double-insert. O(changed docs), never a corpus re-sign.
    post = (
        change_feed(spark, docs_tbl, 0, 1)
        .filter(F.col("_change_type") == "update_postimage")
        .select("doc_id", "text")
    )
    merge_upsert(spark, idx_tbl, _band_index_for(post), "doc_id")
    return docs_tbl, idx_tbl


@register(
    "dedup_index_through_updates",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id < 40 THEN text || '{_REVISION_SUFFIX}'
                  ELSE text END AS text
      FROM documents
    ), sig AS ({_SQL_SIGNATURE.replace("FROM documents", "FROM docs")})
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(COUNT(DISTINCT band_hash) AS BIGINT) AS n_buckets,
           TRUE AS incremental_equals_full
    FROM ({_sql_band_table()}) GROUP BY band
    """,
    tags=("dedup", "minhash", "snapshot", "cdc", "incremental", "update"),
    doc=(
        "INDEX MAINTENANCE THROUGH UPDATES (r11b): revising documents "
        "is an UPDATE on the CDF-enabled store; the index job consumes "
        "the change feed's update_postimage legs, re-signs ONLY the "
        "revised docs, and MERGEs the new band rows keyed by doc_id — "
        "upsert semantics replace each revised doc's stale entries "
        "atomically (preimage bands out, postimage bands in, one "
        "commit). The maintained index is proven EQUAL to a "
        "from-scratch rebuild over the post-update corpus (exceptAll "
        "both ways, flag in the hash) and per-band counts are checked "
        "against the oracle's full recompute over the revised text."
    ),
)
def dedup_index_through_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: cost per revision batch = shingling O(revised docs) + a
    MERGE that rewrites only index segments containing those doc_ids
    (touched-file pruning) — the refresh loop a 100 TB dedup pipeline
    runs when upstream documents get edited, not just appended."""
    from argodb_mapreduce_spark.sources.versioned import snapshot_read

    docs_tbl, idx_tbl = _build_update_index_fixture(spark, sf_dir)
    idx = snapshot_read(spark, idx_tbl)  # v1: base + MERGEd postimage bands
    full = _band_index_for(snapshot_read(spark, docs_tbl))
    return _index_summary(idx, full)
