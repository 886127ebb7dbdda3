"""End-to-end corpus curation pipeline (SURVEY.md §2.C composite).

The single-query form of a pretraining-data curation pass: quality
scoring → threshold filter → exact content dedup → per-document token
stats, expressed as ONE declarative plan so Catalyst fuses the scoring
into the scan projection and the whole pipeline runs with exactly one
shuffle (the content-hash window). This is the shape a 100 TB curation
job should take — not a chain of materialized intermediate tables.

Building blocks mirror `functions/text.py` (quality heuristics) and
`operators/dedup.py` (sha256 exact dedup); the composite proves they
compose losslessly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import load_table
from argodb_mapreduce_spark.functions.text import _STOPWORDS
from argodb_mapreduce_spark.registry import register

QUALITY_MIN = 2


@register(
    "curation_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END
              + CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                              w -> list_contains({_STOPWORDS!r}, w))) AS DOUBLE)
                          / len(string_split(text, ' ')) BETWEEN 0.01 AND 0.5 THEN 1 ELSE 0 END
              + CASE WHEN CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
                          / LENGTH(text) < 0.1 THEN 1 ELSE 0 END) AS quality_score
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tokens, quality_score,
             ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY sha256(text)) AS n_copies
      FROM scored
      WHERE quality_score >= {QUALITY_MIN}
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           quality_score, CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rn = 1
    """,
    tags=("curation", "dedup", "text", "pipeline"),
    doc=(
        "Composite curation pass: C4-style quality score >= "
        f"{QUALITY_MIN}, exact sha256 dedup keeping the lowest doc_id "
        "(with the duplicate count), and per-survivor token counts — one "
        "declarative plan, one shuffle (the content-hash window); scoring "
        "runs map-side fused into the scan."
    ),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS))).cast("double") / n_tok
    punct_ratio = F.regexp_count(F.col("text"), F.lit("[^a-z0-9 ]")).cast("double") / F.length("text")
    quality = (
        F.when(n_tok >= 20, 1).otherwise(0)
        + F.when(stop_ratio.between(0.01, 0.5), 1).otherwise(0)
        + F.when(punct_ratio < 0.1, 1).otherwise(0)
    )
    scored = d.select(
        "doc_id", "text", n_tok.cast("long").alias("n_tokens"), quality.alias("quality_score")
    ).filter(F.col("quality_score") >= QUALITY_MIN)
    w = Window.partitionBy(F.sha2("text", 256))
    ranked = scored.select(
        "doc_id",
        "n_tokens",
        "quality_score",
        F.row_number().over(w.orderBy(F.col("doc_id").asc())).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("rn") == 1).select("doc_id", "n_tokens", "quality_score", "n_copies")


# -- inter-document boilerplate: the CCNet/C4 frequent-phrase stage --------

#: Phrase length for boilerplate detection (bigrams: the fixture vocab
#: is small, so longer grams never repeat across documents; production
#: corpora use 3-8 token phrases or whole lines — only this constant
#: and the slice width change).
BOILER_K = 2
#: A phrase is boilerplate if it appears in >= this percent of docs.
BOILER_DF_PCT = 7
#: Drop documents with more than this fraction of boilerplate phrases.
BOILER_DROP = 0.2

_SQL_BOILER_CTES = f"""
    tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id, array_to_string(tk[i:i+{BOILER_K - 1}], ' ') AS gram
      FROM tk, UNNEST(range(1, len(tk) - {BOILER_K - 2})) AS u(i)
      WHERE len(tk) >= {BOILER_K}
    ),
    phrase_df AS (
      SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM g GROUP BY gram
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    boiler AS (
      SELECT gram, df, n_docs FROM phrase_df, nd
      WHERE df * 100 >= {BOILER_DF_PCT} * n_docs
    )"""


@register(
    "text_boilerplate_phrases",
    oracle=f"""
    WITH {_SQL_BOILER_CTES}
    SELECT gram, df,
           CAST(df AS DOUBLE) / n_docs AS doc_frac
    FROM boiler
    """,
    tags=("text", "curation", "boilerplate"),
    doc=(
        f"Inter-document boilerplate phrase mining: {BOILER_K}-gram "
        f"phrases present in >= {BOILER_DF_PCT}% of documents (exact "
        "integer df*100 >= pct*n_docs compare — no float threshold "
        "drift). The CCNet/C4-style frequent-line stage re-expressed "
        "over word n-grams; at web scale these are headers, footers, "
        "cookie banners. One explode + one (gram) groupBy; df counts "
        "are map-side combinable and the corpus size is a broadcast "
        "1-row aggregate."
    ),
)
def text_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    grams = _doc_grams(d)
    phrase_df = grams.groupBy("gram").agg(F.count_distinct("doc_id").alias("df"))
    nd = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    return (
        phrase_df.crossJoin(nd)
        .filter(F.col("df") * 100 >= BOILER_DF_PCT * F.col("n_docs"))
        .select(
            "gram",
            "df",
            (F.col("df").cast("double") / F.col("n_docs")).alias("doc_frac"),
        )
    )


def _doc_grams(d: DataFrame) -> DataFrame:
    """(doc_id, gram) with occurrence multiplicity — one per position."""
    tk = d.select("doc_id", F.split("text", " ").alias("tk"))
    return tk.filter(F.size("tk") >= BOILER_K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(tk) - {BOILER_K}), "
                f"i -> concat_ws(' ', slice(tk, i + 1, {BOILER_K})))"
            )
        ).alias("gram"),
    )


@register(
    "text_boilerplate_coverage",
    oracle=f"""
    WITH {_SQL_BOILER_CTES},
    occ AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
      FROM g WHERE gram IN (SELECT gram FROM boiler)
      GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id,
             CAST(GREATEST(len(string_split(text, ' ')) - {BOILER_K - 1}, 0) AS BIGINT) AS n_grams
      FROM documents
    )
    SELECT b.doc_id, b.n_grams,
           CAST(COALESCE(o.n_boiler, 0) AS BIGINT) AS n_boiler,
           CAST(COALESCE(o.n_boiler, 0) AS DOUBLE) / NULLIF(b.n_grams, 0) AS boiler_ratio,
           COALESCE(CAST(COALESCE(o.n_boiler, 0) AS DOUBLE) / NULLIF(b.n_grams, 0)
                    <= {BOILER_DROP!r}, TRUE) AS keep
    FROM base b LEFT JOIN occ o ON o.doc_id = b.doc_id
    """,
    tags=("text", "curation", "boilerplate"),
    doc=(
        f"Per-document boilerplate coverage: the fraction of a doc's "
        f"{BOILER_K}-gram occurrences that are corpus-boilerplate "
        f"(df >= {BOILER_DF_PCT}%), with a keep flag at "
        f"coverage <= {BOILER_DROP} — the drop rule that removes "
        "template-dominated pages. The ratio is one bigint/bigint IEEE "
        "division, engine-exact. Dataflow: occurrences semi-join the "
        "boilerplate set on the gram key (multiplicity preserved), one "
        "per-doc count, one left join back to the corpus — no step "
        "carries more than O(occurrences) rows, and the boilerplate "
        "set is the natural broadcast side when bounded."
    ),
)
def text_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from argodb_mapreduce_spark.catalog import cpu_repartition

    d = load_table(spark, sf_dir, "documents")
    # Spread the gram explode (r15, guide §2.2): the per-position
    # k-gram transform runs on the scan's partitions — ONE task on the
    # single-row-group fixture (x10 ladder: 6.5 s at 8c vs 6.8 s at
    # 32c, ratio 0.96). Row-group-gated: a real corpus skips the
    # exchange. Hashed on doc_id, the key of the per-doc steps.
    grams = _doc_grams(cpu_repartition(d, sf_dir, "documents", "doc_id"))
    phrase_df = grams.groupBy("gram").agg(F.count_distinct("doc_id").alias("df"))
    nd = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    boiler = (
        phrase_df.crossJoin(nd)
        .filter(F.col("df") * 100 >= BOILER_DF_PCT * F.col("n_docs"))
        .select("gram")
    )
    occ = (
        grams.join(boiler, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    base = d.select(
        "doc_id",
        F.greatest(F.size(F.split("text", " ")) - F.lit(BOILER_K - 1), F.lit(0))
        .cast("long")
        .alias("n_grams"),
    )
    ratio = F.col("n_boiler").cast("double") / F.nullif(F.col("n_grams"), F.lit(0))
    return (
        base.join(occ, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_boiler", F.lit(0)).cast("bigint").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            ratio.alias("boiler_ratio"),
            F.coalesce(ratio <= BOILER_DROP, F.lit(True)).alias("keep"),
        )
    )
