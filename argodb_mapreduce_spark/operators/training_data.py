"""Training-data preparation operators (SURVEY.md §2.C extensions).

The four ops every LLM pretraining pipeline runs between "curated
corpus" and "token stream", expressed as declarative DataFrame plans:

- **Chunking** — split each document's token stream into fixed-width
  training chunks (`chunk_documents`).
- **Sequence packing** — concat-and-chunk accounting: assign documents
  to fixed token-budget bins in deterministic order, per source shard
  (`pack_sequences`). This is the GPT-style "concatenate everything,
  cut every `budget` tokens" packing, computed as bookkeeping over a
  running token offset — no data movement of the text itself.
- **Repetition screening** — per-document duplicate-token fraction and
  top-token share, the Gopher-style within-document repetition signals
  (`text_repetition_ratio`).
- **Benchmark decontamination** — flag training documents sharing any
  word-5-gram with a held-out benchmark set (`decontam_ngram_overlap`),
  the standard n-gram-overlap contamination check.

All four are JVM-side only (split/slice/explode/window/join — no
Python UDFs) and all four have exact DuckDB oracle twins. These extend
the reference's delegated map/reduce surface (reference exposes raw
records for arbitrary user pipelines — ArgodbMapreduceRecordReader.java
hands each row to user code; these are the canonical "user code" of a
training-data pipeline, made first-class).

Scale notes: chunking and repetition are embarrassingly parallel
(per-row / one groupBy). Packing windows over (source, doc_id) — one
shuffle per source shard, and at 100 TB the shard key would be
(source, file_id) so no single window partition exceeds a task.
Decontamination broadcasts the benchmark n-gram set (benchmarks are
MBs, corpora are TBs) so the scan stays map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import load_table
from argodb_mapreduce_spark.registry import register

CHUNK_TOKENS = 16    #: tokens per training chunk (small so fixture docs span several)
PACK_BUDGET = 256    #: tokens per packed sequence bin
DECONTAM_N = 5       #: word-n-gram width for the contamination check
BENCH_MOD = 43       #: doc_id % BENCH_MOD == 0 → held-out "benchmark" doc


@register(
    "chunk_documents",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      WHERE len(string_split(text, ' ')) > 0
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           CAST(len(tk[i*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}+{CHUNK_TOKENS}]) AS INT) AS n_chunk_tokens,
           md5(array_to_string(tk[i*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}+{CHUNK_TOKENS}], ' ')) AS chunk_md5
    FROM tok, UNNEST(range(0, CAST(ceil(len(tk) / {CHUNK_TOKENS}.0) AS BIGINT))) AS u(i)
    """,
    tags=("training", "text", "chunk"),
    doc=(
        f"Fixed-width chunking: each document's token stream cut into "
        f"{CHUNK_TOKENS}-token training chunks (last chunk ragged). "
        "split → explode(sequence) → slice, all codegen; per-row "
        "fan-out only, no shuffle. The chunk text is emitted as md5 so "
        "the contract row stays scalar."
    ),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split("text", " ").alias("tk")).filter(F.size("tk") > 0)
    n_chunks = F.ceil(F.size("tk") / F.lit(float(CHUNK_TOKENS))).cast("long")
    exploded = tok.select(
        "doc_id",
        "tk",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx_l"),
    )
    chunk = F.slice("tk", (F.col("chunk_idx_l") * CHUNK_TOKENS + 1).cast("int"), CHUNK_TOKENS)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx_l").cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), s AS (
      SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_start
      FROM t
    )
    SELECT source,
           CAST(FLOOR(token_start / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM s
    GROUP BY source, CAST(FLOOR(token_start / {PACK_BUDGET}.0) AS BIGINT)
    """,
    tags=("training", "pack"),
    doc=(
        f"Sequence packing (concat-and-chunk accounting): documents in "
        f"deterministic (source, doc_id) order are assigned to "
        f"{PACK_BUDGET}-token bins by their running token offset — "
        "bin = floor(token_start / budget), i.e. the bin layout of "
        "concatenating every doc and cutting at the budget, without "
        "moving any text. One window + one groupBy per source shard; at "
        "corpus scale the shard key becomes (source, file) so no window "
        "partition outgrows a task."
    ),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = t.withColumn("token_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"))
    binned = s.withColumn("bin_id", F.floor(F.col("token_start") / F.lit(float(PACK_BUDGET))))
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "text_repetition_ratio",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), counts AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           (CAST(SUM(c) AS BIGINT) - CAST(COUNT(*) AS BIGINT)) / CAST(SUM(c) AS BIGINT) AS dup_fraction,
           CAST(MAX(c) AS BIGINT) / CAST(SUM(c) AS BIGINT) AS top_token_share
    FROM counts GROUP BY doc_id
    """,
    tags=("training", "text", "quality"),
    doc=(
        "Within-document repetition signals (Gopher-style quality "
        "screen): duplicate-token fraction 1 - distinct/total and the "
        "most-frequent-token share, per document. explode + two "
        "partial-aggregated groupBys keyed by doc_id — shuffle volume "
        "O(doc_id × distinct tokens), never O(corpus tokens). Ratios "
        "are single int/int IEEE divisions — bit-identical across "
        "engines."
    ),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    counts = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        ((F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens")).alias("dup_fraction"),
        (F.col("top_count") / F.col("n_tokens")).alias("top_token_share"),
    )


@register(
    "decontam_ngram_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), ngrams AS (
      SELECT doc_id, md5(array_to_string(tk[i:i+{DECONTAM_N - 1}], ' ')) AS ng
      FROM tok, UNNEST(range(1, len(tk) - {DECONTAM_N - 2})) AS u(i)
      WHERE len(tk) >= {DECONTAM_N}
    ), bench AS (
      SELECT DISTINCT ng FROM ngrams WHERE doc_id % {BENCH_MOD} = 0
    ), train AS (
      SELECT DISTINCT doc_id, ng FROM ngrams WHERE doc_id % {BENCH_MOD} <> 0
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_contaminated_ngrams,
           TRUE AS flagged
    FROM train t JOIN bench b USING (ng)
    GROUP BY t.doc_id
    """,
    tags=("training", "dedup", "decontam"),
    doc=(
        f"Benchmark decontamination: flag training documents sharing "
        f"any word-{DECONTAM_N}-gram with the held-out benchmark slice "
        f"(doc_id % {BENCH_MOD} == 0 stands in for the benchmark "
        "corpus). N-grams are md5'd (16-byte join key instead of raw "
        "text) and the benchmark set is broadcast — benchmarks are MBs "
        "while corpora are TBs, so the membership probe runs map-side "
        "with zero shuffle of the corpus. On the fixture this flags "
        "exactly the near-duplicates of benchmark docs, not random "
        "collisions."
    ),
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from argodb_mapreduce_spark.catalog import cpu_repartition

    d = load_table(spark, sf_dir, "documents")
    # Spread the n-gram md5 explode (r15, guide §2.2) — one md5 per
    # token position, serialized on the single-row-group fixture's one
    # scan partition (x10 ladder ratio 0.89). Row-group-gated. Hashed
    # on doc_id, so the (doc_id, ng) distinct and the per-doc n-gram
    # count below keep the spread's partitioning: no exchange of their
    # own.
    tok = cpu_repartition(d, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split("text", " ").alias("tk")
    ).filter(
        F.size("tk") >= DECONTAM_N
    )
    ngrams = tok.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (DECONTAM_N - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice("tk", i, DECONTAM_N))),
            )
        ).alias("ng"),
    )
    bench = (
        ngrams.filter(F.col("doc_id") % BENCH_MOD == 0).select("ng").distinct()
    )
    train = (
        ngrams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id", "ng")
        .distinct()
    )
    return (
        train.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"), F.lit(True).alias("flagged"))
    )


@register(
    "split_train_val_test",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS min_doc_id
    FROM t GROUP BY 1
    """,
    tags=("training", "split"),
    doc=(
        "Deterministic train/val/test split (90/5/5): bucket = "
        "md5(doc_id) mod 100 — content-independent, engine-independent, "
        "and STABLE under corpus growth (a doc's split never changes "
        "when other docs are added/removed, unlike row_number-based "
        "splits). Pure map-side expression + one combiner-reduced "
        "groupBy; the same hash assigns splits at 100 TB with zero "
        "coordination."
    ),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 100
    )
    t = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        bucket.alias("bucket"),
    )
    split = (
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test")
    )
    return t.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


@register(
    "bpe_pair_stats",
    oracle="""
    WITH tf AS (
        SELECT tok, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
    ),
    pairs AS (
        SELECT substring(tok, CAST(i AS INT), 1) AS a,
               substring(tok, CAST(i AS INT) + 1, 1) AS b,
               cnt
        FROM tf, UNNEST(range(1, LENGTH(tok))) AS u(i)
        WHERE LENGTH(tok) >= 2
    )
    SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY a, b
    ORDER BY pair_count DESC, a, b
    LIMIT 20
    """,
    tags=("training-data", "text", "topk"),
    doc=(
        "BPE merge-learning inner loop at corpus scale: adjacent-symbol "
        "pair frequencies, the statistic a byte-pair-encoding tokenizer "
        "trainer maximizes each merge iteration. The trick that makes "
        "BPE tractable on TB corpora is applied literally: pairs are "
        "enumerated over the TOKEN-FREQUENCY DICTIONARY (Zipf-bounded "
        "types), weighted by count — never over the corpus stream. The "
        "top pair of this query IS the first merge a standard BPE "
        "trainer would learn from the fixture corpus."
    ),
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus -> token-frequency dict -> weighted adjacent char-pair
    counts -> deterministic top-20. Scale: the only corpus-sized work is
    the first map-combinable groupBy(token); the pair enumeration runs
    over O(vocab) rows with O(token_len) fan-out, and the final
    aggregate is O(alphabet^2). Each further merge iteration reuses the
    same vocab-sized shape, which is why BPE training fits a 100 TB
    corpus: the corpus is touched exactly once."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = (
        tf.filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> struct(substring(tok, i, 1) AS a, substring(tok, i + 1, 1) AS b))"
                )
            ).alias("p"),
            "cnt",
        )
        .select("p.a", "p.b", "cnt")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("cnt").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(20)
    )


BPE_MERGES = 3  #: merge iterations trained by bpe_train_merges
_BPE_REPL = 5  #: replace() passes per merge — covers words up to ~10 chars
#: Trainer token-length cap: a word with more than _BPE_REPL
#: boundary-sharing repeats of the merged pair would be left PARTIALLY
#: merged by the fixed-pass REPLACE (occurrences <= len/2, so 2*_BPE_REPL
#: chars is the provable safe bound); tokens above the cap — and tokens
#: containing the '|' symbol separator — are EXCLUDED identically on both
#: engines rather than silently under-merged (ADVICE r8). The fixture
#: corpus maxes out at 8 chars with no '|', so the cap is a no-op there
#: (asserted in tests/test_round9_ops.py).
_BPE_MAX_TOK = 2 * _BPE_REPL


def _bpe_sql_pairs(src: str) -> str:
    """DuckDB CTE body: adjacent-symbol weighted pair counts from the
    '|'-encoded vocab table `src` (w = '|sym|sym|...|', cnt)."""
    return f"""
      SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b, cnt
      FROM (SELECT list_slice(string_split(w, '|'), 2, len(string_split(w, '|')) - 1) AS syms,
                   cnt
            FROM {src}),
           UNNEST(range(1, len(syms))) AS u(i)
      WHERE len(syms) >= 2
    """


def _bpe_sql_best(pairs_cte: str) -> str:
    return f"""
      SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM {pairs_cte} GROUP BY a, b
      ORDER BY pair_count DESC, a, b LIMIT 1
    """


def _sql_apply(src_w: str, m: str) -> str:
    """Nested non-overlapping replace: merge (a,b) applied _BPE_REPL
    times — replace() scans left-to-right without overlap on both
    engines, and repeated passes resolve the occurrences a single pass
    skips when its match consumes the shared '|' boundary."""
    expr = src_w
    for _ in range(_BPE_REPL):
        expr = f"REPLACE({expr}, '|' || {m}.a || '|' || {m}.b || '|', '|' || {m}.a || {m}.b || '|')"
    return expr


_BPE_TRAIN_SQL = f"""
    WITH tf AS (
        SELECT tok, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> '' AND LENGTH(tok) <= {_BPE_MAX_TOK} AND tok NOT LIKE '%|%'
        GROUP BY tok
    ),
    v0 AS (
        SELECT '|' || array_to_string(string_split_regex(tok, ''), '|') || '|' AS w, cnt
        FROM tf
    ),
    m1 AS ({_bpe_sql_best(f'({_bpe_sql_pairs("v0")})')}),
    v1 AS (SELECT {_sql_apply('v0.w', 'm1')} AS w, cnt FROM v0, m1),
    m2 AS ({_bpe_sql_best(f'({_bpe_sql_pairs("v1")})')}),
    v2 AS (SELECT {_sql_apply('v1.w', 'm2')} AS w, cnt FROM v1, m2),
    m3 AS ({_bpe_sql_best(f'({_bpe_sql_pairs("v2")})')})
    SELECT 1 AS step, a AS left_sym, b AS right_sym, pair_count FROM m1
    UNION ALL
    SELECT 2, a, b, pair_count FROM m2
    UNION ALL
    SELECT 3, a, b, pair_count FROM m3
    ORDER BY step
"""


@register(
    "bpe_train_merges",
    oracle=_BPE_TRAIN_SQL,
    tags=("training-data", "text", "iterative"),
    doc=(
        f"FULL BPE trainer loop, {BPE_MERGES} merge iterations: count "
        "weighted adjacent-symbol pairs over the vocab dictionary, take "
        "the argmax pair (count desc, then lexicographic — fully "
        "deterministic), apply the merge to every word, repeat. The "
        "learned merge table (step, left, right, count) IS the "
        "tokenizer artifact. No driver collect: each iteration's best "
        "pair stays a 1-row DataFrame broadcast-joined onto the vocab, "
        "and the merge applies as nested non-overlapping REPLACE on a "
        "'|'-encoded symbol string — identical semantics in Spark and "
        "DuckDB, all JVM-side."
    ),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the corpus is scanned ONCE (the map-combinable
    groupBy(token)); every iteration after runs at O(vocab) rows with
    O(word_len) fan-out — pair stats are a two-stage partial aggregate
    and the argmax is a 1-row TakeOrderedAndProject broadcast back onto
    the vocab. BPE_MERGES iterations chain lazily into one plan exactly
    like graph_pagerank's fixed-iteration ladder; a 50k-merge
    production run would localCheckpoint the vocab every ~50 rounds the
    way the connected-components loops do."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        # cap + '|'-free guard: see _BPE_MAX_TOK — over-cap tokens would
        # be silently under-merged by the fixed-pass REPLACE, and a
        # literal '|' corrupts the symbol encoding; both are excluded
        # identically in the oracle.
        .filter((F.length("tok") <= _BPE_MAX_TOK) & (~F.col("tok").contains("|")))
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = tf.select(
        F.expr("'|' || array_join(split(tok, ''), '|') || '|'").alias("w"), "cnt"
    )

    def pair_counts(v: DataFrame) -> DataFrame:
        syms = F.expr("slice(split(w, '\\\\|'), 2, size(split(w, '\\\\|')) - 2)")
        return (
            v.select(syms.alias("syms"), "cnt")
            .filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
        )

    def best_of(pc: DataFrame) -> DataFrame:
        return pc.orderBy(F.desc("pair_count"), "a", "b").limit(1)

    def apply_merge(v: DataFrame, best: DataFrame) -> DataFrame:
        expr = "w"
        for _ in range(_BPE_REPL):
            expr = f"replace({expr}, '|' || a || '|' || b || '|', '|' || a || b || '|')"
        return v.crossJoin(F.broadcast(best)).select(F.expr(expr).alias("w"), "cnt")

    merges = []
    v = vocab
    for step in range(1, BPE_MERGES + 1):
        best = best_of(pair_counts(v))
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                "pair_count",
            )
        )
        if step < BPE_MERGES:
            v = apply_merge(v, best)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


@register(
    "bpe_encode_documents",
    oracle=f"""
    WITH tf AS (
        SELECT tok, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> '' AND LENGTH(tok) <= {_BPE_MAX_TOK} AND tok NOT LIKE '%|%'
        GROUP BY tok
    ),
    v0 AS (
        SELECT '|' || array_to_string(string_split_regex(tok, ''), '|') || '|' AS w, cnt
        FROM tf
    ),
    m1 AS ({_bpe_sql_best(f'({_bpe_sql_pairs("v0")})')}),
    v1 AS (SELECT {_sql_apply('v0.w', 'm1')} AS w, cnt FROM v0, m1),
    m2 AS ({_bpe_sql_best(f'({_bpe_sql_pairs("v1")})')}),
    v2 AS (SELECT {_sql_apply('v1.w', 'm2')} AS w, cnt FROM v1, m2),
    m3 AS ({_bpe_sql_best(f'({_bpe_sql_pairs("v2")})')}),
    vm0 AS (
        SELECT tok, '|' || array_to_string(string_split_regex(tok, ''), '|') || '|' AS w
        FROM tf
    ),
    vm1 AS (SELECT tok, {_sql_apply('vm0.w', 'm1')} AS w FROM vm0, m1),
    vm2 AS (SELECT tok, {_sql_apply('vm1.w', 'm2')} AS w FROM vm1, m2),
    vm3 AS (SELECT tok, {_sql_apply('vm2.w', 'm3')} AS w FROM vm2, m3),
    toks AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> '' AND LENGTH(tok) <= {_BPE_MAX_TOK} AND tok NOT LIKE '%|%'
    ),
    enc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(LENGTH(t.tok)) AS BIGINT) AS n_char_symbols,
               CAST(SUM(len(string_split(m.w, '|')) - 2) AS BIGINT) AS n_bpe_tokens
        FROM toks t JOIN vm3 m ON m.tok = t.tok
        GROUP BY t.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(e.n_words, 0)) AS BIGINT) AS n_words,
           CAST(SUM(COALESCE(e.n_char_symbols, 0)) AS BIGINT) AS n_char_symbols,
           CAST(SUM(COALESCE(e.n_bpe_tokens, 0)) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN enc e ON e.doc_id = d.doc_id
    GROUP BY d.source
    """,
    tags=("training-data", "text", "tokenizer"),
    doc=(
        f"BPE APPLY — the serving half of the tokenizer loop: the "
        f"{BPE_MERGES} learned merges re-derive lazily (the trainer's "
        f"exact chain), the distinct-token vocabulary is encoded once "
        f"through all merges, and the corpus joins against that "
        f"vocabulary mapping — so the corpus-sized table is touched "
        f"exactly once and the merge application runs at O(vocab), "
        f"never O(corpus tokens). Per-source totals: words, character "
        f"symbols (pre-merge), BPE tokens (post-merge; strictly fewer "
        f"wherever a learned pair occurs) — the token-budget accounting "
        f"a training-data pipeline runs before packing."
    ),
)
def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: vocab encode is O(distinct tokens) with three
    broadcast 1-row joins (the merges); the only corpus-scale ops are
    one explode + one vocab equi-join + one per-source aggregate. At
    100 TB the learned-merge table would be a persisted artifact
    (similarity_index_build pattern) instead of a lazy recompute."""
    d = load_table(spark, sf_dir, "documents")
    # NO work-derived spread here (r15 negative result, measured): a
    # row-group-gated (then round-robin) spread of the docs scan read
    # 16.3 s vs 7.6 s at x10 and flat at sf0.1 — the encode's cost
    # lives in the distinct-vocab replace chain and the broadcast probe,
    # not the explode, and the spread only added a full-text shuffle
    # (confirms the r14 rejection for the BPE family).
    toks = (
        d.select("doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .filter((F.length("tok") <= _BPE_MAX_TOK) & (~F.col("tok").contains("|")))
    )
    merges = bpe_train_merges(spark, sf_dir)
    vmap = toks.select("tok").distinct().select(
        "tok", F.expr("'|' || array_join(split(tok, ''), '|') || '|'").alias("w")
    )
    repl = "w"
    for _ in range(_BPE_REPL):
        repl = f"replace({repl}, '|' || a || '|' || b || '|', '|' || a || b || '|')"
    for step in range(1, BPE_MERGES + 1):
        m = merges.filter(F.col("step") == step).select(
            F.col("left_sym").alias("a"), F.col("right_sym").alias("b")
        )
        vmap = vmap.crossJoin(F.broadcast(m)).select("tok", F.expr(repl).alias("w"))
    enc = (
        # Broadcast the encoded vocabulary: O(distinct capped tokens) —
        # bounded and small next to the corpus-sized toks, so the
        # corpus-scale side never shuffles for this join. (A corpus
        # whose distinct-token table outgrew broadcast would drop the
        # hint and take the shuffle join.)
        toks.join(F.broadcast(vmap), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("tok")).cast("long").alias("n_char_symbols"),
            F.sum(F.size(F.split("w", "\\|")) - 2).cast("long").alias("n_bpe_tokens"),
        )
    )
    return (
        d.join(enc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("n_words", F.lit(0))).cast("long").alias("n_words"),
            F.sum(F.coalesce("n_char_symbols", F.lit(0))).cast("long").alias("n_char_symbols"),
            F.sum(F.coalesce("n_bpe_tokens", F.lit(0))).cast("long").alias("n_bpe_tokens"),
        )
    )
