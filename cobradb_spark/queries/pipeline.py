"""End-to-end corpus-curation pipeline — stage COMPOSITION, not new ops.

Every large-scale training-data shop runs one nightly program shaped
like this: exact dedup -> near-dedup -> quality/language filter ->
benchmark decontamination -> deterministic split.  The individual
stages are proven registry keys (dedup_exact_hash, dedup_cluster_cc /
text_fingerprint_winnow, text_quality_score, text_lang_id,
decontam_ngram_overlap, split_train_test); this module chains their
exact formulations into ONE lazy DataFrame program so the optimizer
sees the whole plan — projections prune across stage boundaries, the
eval-gram side broadcasts, and nothing materializes to the driver
between stages.

Scale posture (100 TB): every dedup stage is a partial+final hash
AGGREGATE (map-side combine), never a window over a text-derived
partition key.  A window cannot split one partition-key group across
tasks, so a mega-duplicate content group or a boilerplate-concentrated
30-char prefix ("<!DOCTYPE html><head><meta charse…") funnels through a
single task at 100 TB; groupBy+min combines those groups per input task
before the shuffle, and the keep-set join-backs key on unique doc_id
(no hot keys; AQE skew-split applies where a sort-merge is chosen).
No iterative driver loop (transitive near-dup clusters are
dedup_cluster_cc's job; the banded keep-min used here is the one-pass
conservative variant that composes lazily).  The decontamination join
broadcasts the eval gram set, which is tiny relative to the corpus by
definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cobradb_spark.buckets import bucket as _bucket
from cobradb_spark.buckets import bucket_sql as _bucket_sql
from cobradb_spark.io import load_table
from cobradb_spark.lexicons import DE as _DE
from cobradb_spark.lexicons import EN as _EN
from cobradb_spark.lexicons import ES as _ES
from cobradb_spark.lexicons import hits as lex_hits
from cobradb_spark.lexicons import hits_sql as _hits_duck
from cobradb_spark.ngrams import TRIGRAMS_SQL, word_trigrams
from cobradb_spark.queries.textops import QUALITY_SQL, quality_score
from cobradb_spark.registry import register

_QUALITY_MIN = 0.35  # same composite score as text_quality_score
_CONTAM_MAX = 0.2  # same threshold as decontam_ngram_overlap

_TRI = TRIGRAMS_SQL.format(w="str_split(text, ' ')")


def _word_trigrams(words_col: str) -> F.Column:
    """Distinct word 3-grams — the shared cross-engine formulation."""
    return F.array_distinct(word_trigrams(words_col))


@register(
    "pipeline_curate_corpus",
    oracle=f"""
WITH s1 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           min(doc_id) OVER (PARTITION BY sha256(lower(trim(text)))) AS keep1
    FROM documents) WHERE doc_id = keep1
), s2 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           min(doc_id) OVER (PARTITION BY substr(text, 1, 30)) AS kp,
           min(doc_id) OVER (PARTITION BY right(text, 30)) AS ks
    FROM s1) WHERE doc_id = kp AND doc_id = ks
), s3 AS (
  SELECT doc_id, text,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
         {QUALITY_SQL} AS quality,
         {_hits_duck(_EN)} AS en_hits,
         {_hits_duck(_DE)} AS de_hits,
         {_hits_duck(_ES)} AS es_hits
  FROM s2
), s3f AS (
  SELECT doc_id, text, n_words, quality FROM s3
  WHERE quality >= {_QUALITY_MIN}
    AND (en_hits > 0 OR de_hits > 0 OR es_hits > 0)
), ev AS (
  SELECT DISTINCT unnest({_TRI}) AS g
  FROM documents WHERE doc_id % 50 = 0
), tr AS (
  SELECT DISTINCT doc_id, unnest({_TRI}) AS g
  FROM s3f WHERE doc_id % 50 <> 0
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY doc_id
), hits AS (
  SELECT tr.doc_id, count(*) AS n_hit FROM tr JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id
), s4 AS (
  SELECT s.doc_id, s3f.n_words, s3f.quality,
         round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_grams, 6) AS contamination
  FROM sizes s JOIN s3f USING (doc_id) LEFT JOIN hits h ON s.doc_id = h.doc_id
  WHERE CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_grams < {_CONTAM_MAX}
)
SELECT doc_id, n_words, quality, contamination,
       CASE WHEN {_bucket_sql('doc_id', 'curate')} < 80 THEN 'train'
            WHEN {_bucket_sql('doc_id', 'curate')} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM s4
""",
    doc="Corpus curation end-to-end, ONE lazy plan: (1) exact dedup — keep-min "
    "doc_id per sha256(lower(trim(text))) content hash; (2) one-pass near-dedup "
    "— survive only as min of BOTH the 30-char-prefix and 30-char-suffix "
    "fingerprint buckets (the banded conservative variant of dedup_cluster_cc's "
    "transitive merge — no iterative driver loop, composes lazily); (3) quality "
    ">= 0.35 (text_quality_score composite) AND stopword language detected "
    "(text_lang_id lexicons); (4) decontamination — drop docs sharing >= 20% of "
    "distinct word-trigrams with the eval slice (doc_id % 50 = 0, excluded from "
    "the corpus), eval grams broadcast; (5) deterministic md5-bucket 80/10/10 "
    "split. Output: surviving doc_id, n_words, quality, contamination, split. "
    "Every dedup stage is a partial+final groupBy-min (map-side combine kills "
    "mega-duplicate and boilerplate-prefix skew) with unique-doc_id semi "
    "join-backs; nothing collects to the driver between stages.",
    tags=("pipeline", "llm"),
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # (1)+(2) exact + banded near-dedup as ONE linear aggregate chain over a
    # SINGLE corpus scan — no window over a text-derived partition key
    # anywhere (a window cannot split one partition-key group across tasks,
    # so mega-duplicate content groups and boilerplate-concentrated 30-char
    # prefixes funnel through a single task at 100 TB).  Every stage below
    # is a partial+final aggregate: map-side combine collapses a hot group
    # to one row per input task before its shuffle.  min_by carries the
    # kept row's text through the combiner (deterministic — doc_id is
    # unique), which is what lets the whole chain stay join-free and
    # single-scan; its string buffer makes Spark pick partial+final
    # SortAggregate rather than HashAggregate, which keeps the same
    # skew-immunity (the combine is the point, not the hash table).
    #
    # (1) exact dedup: keep the min-doc_id row per content sha256.
    s1 = (
        d.groupBy(F.sha2(F.lower(F.trim("text")), 256).alias("__h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .drop("__h")
    )

    # (2) banded near-dedup: a doc survives iff it is the min of BOTH its
    # 30-char-prefix bucket AND its 30-char-suffix bucket, both computed
    # over s1 (matching the oracle's two windows on s1, NOT sequentially).
    # Explode each s1 row into its two typed bucket rows, take the combined
    # per-bucket winner in one shuffle, then count wins per doc: a doc can
    # win at most one bucket of each type, so wins == 2 IS the prefix-AND-
    # suffix condition.  The winner set is one row per distinct bucket, so
    # the second shuffle is bucket-cardinality-bounded.
    exploded = s1.select(
        "doc_id",
        "text",
        F.explode(
            F.array(
                F.struct(F.lit("p").alias("t"), F.substring("text", 1, 30).alias("k")),
                F.struct(F.lit("s").alias("t"), F.expr("right(text, 30)").alias("k")),
            )
        ).alias("b"),
    )
    winners = exploded.groupBy("b").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"),
    )
    s2 = (
        winners.groupBy("doc_id")
        .agg(F.count("*").alias("__wins"), F.max("text").alias("text"))
        .filter(F.col("__wins") == 2)
        .drop("__wins")
    )

    # (3) quality + language gate — pure codegen, same formulas as
    # text_quality_score / text_lang_id.
    words = F.split("text", " ")

    s3f = (
        s2.select(
            "doc_id",
            "text",
            F.size(words).cast("long").alias("n_words"),
            quality_score().alias("quality"),
            lex_hits(words, _EN).alias("en_hits"),
            lex_hits(words, _DE).alias("de_hits"),
            lex_hits(words, _ES).alias("es_hits"),
        )
        .filter(
            (F.col("quality") >= _QUALITY_MIN)
            & ((F.col("en_hits") > 0) | (F.col("de_hits") > 0) | (F.col("es_hits") > 0))
        )
        .drop("en_hits", "de_hits", "es_hits")
    )

    # (4) decontamination: eval grams come from the RAW corpus (the eval
    # slice is fixed before curation), broadcast into a left join whose
    # match flag and gram count aggregate in ONE pass.  n_words/quality
    # ride through the explode so the curated subtree above is evaluated
    # exactly once — no sizes/hits/join-back triple evaluation (each
    # re-evaluation would repeat the three dedup window shuffles at
    # 100 TB).  ev.g is distinct, so the left join never fans out and
    # count(*) per doc IS the distinct-gram count.
    ev = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(F.split("text", " ").alias("w"))
        .select(F.explode(_word_trigrams("w")).alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = (
        s3f.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id", "n_words", "quality", F.split("text", " ").alias("w"))
        .select("doc_id", "n_words", "quality", F.explode(_word_trigrams("w")).alias("g"))
    )
    scored = (
        tr.join(F.broadcast(ev), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.first("n_words").alias("n_words"),
            F.first("quality").alias("quality"),
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
    )
    contamination = F.col("n_hit").cast("double") / F.col("n_grams")
    s4 = scored.filter(contamination < _CONTAM_MAX).select(
        "doc_id", "n_words", "quality", F.round(contamination, 6).alias("contamination")
    )

    # (5) deterministic 80/10/10 split — split_train_test's md5 bucket.
    b = _bucket("doc_id", "curate")
    return s4.select(
        "doc_id",
        "n_words",
        "quality",
        "contamination",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# Embeddings-side curation (r13 VERDICT item 3): the vector analog of
# pipeline_curate_corpus — the SECOND nightly program a training-data
# shop runs.  Index-accelerated near-dedup over the embedding column,
# composed with the hygiene gate and the deterministic split as ONE
# lazy plan.  The J2/J4 evidence pattern: the ANN-backed key is
# rows-only by design (KMeans cells are seed-pinned but not
# SQL-expressible), and the _graded companion replays the SAME pipeline
# with the EXACT pair kernel (full DuckDB oracle) and hash-pins the
# ANN stage's recall/agreement against it.
# ---------------------------------------------------------------------------

_EMB_COS_THRESHOLD = 0.4  # same bar as dedup_cosine_near


def _emb_l2(vec_col: str) -> F.Column:
    """Float64 L2 norm of an array<float> column — the SAME single-fold
    codegen HOF embed_vector_norm (queries/llm.py) and the LSH kernel
    (operators/knn.py) use: one aggregate over the array, no
    intermediate squared-array allocation (r14 review finding #4)."""
    return F.sqrt(
        F.aggregate(
            vec_col,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _curated_embeddings_base(spark: SparkSession, sf_dir: str):
    """(hygiene-gated embeddings, documents) shared by both keys."""
    emb = load_table(spark, sf_dir, "embeddings")
    ok = emb.withColumn("l2", _emb_l2("embedding")).filter(F.col("l2") > 0)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return ok, docs


def _survivors(ok: DataFrame, pairs: DataFrame) -> DataFrame:
    """Greedy one-pass keep-lowest: drop every vector that appears as
    the GREATER id of a near-dup pair (a_id < b_id by construction).
    The conservative non-iterative variant — transitive chains may
    over-drop relative to connected-components, deterministically; the
    same trade pipeline_curate_corpus's banded stage makes."""
    drops = pairs.select(F.col("b_id").alias("vec_id")).distinct()
    return ok.join(drops, "vec_id", "anti")


@register(
    "pipeline_curate_embeddings",
    oracle=None,  # ANN stage (KMeans cells) not SQL-expressible; graded below
    doc="Embeddings curation end-to-end, ONE lazy plan: (1) hygiene gate — "
    "keep vectors with finite nonzero L2 norm; (2) IVF index build (KMeans "
    "nlist=8, seed=42, centroids broadcast) and near-dup candidate pairs "
    "from vectors sharing >= 1 of their nassign=2 nearest cells, scored "
    "exactly per cell (applyInPandas BLAS, cos >= 0.4); (3) greedy "
    "keep-lowest survivor per near-dup pair; (4) join survivors back to "
    "documents for language metadata; (5) deterministic md5-bucket 80/10/10 "
    "split. Output: vec_id, lang, label, l2_norm, split. At 100 TB nlist "
    "scales to ~sqrt(N) so each cell is a bounded BLAS problem; only the "
    "centroid matrix touches the driver. rows-only by design (cell "
    "assignment is seed-pinned KMeans, not SQL-expressible); "
    "pipeline_curate_embeddings_graded hash-pins this pipeline's recall "
    "and survivor agreement against the exact-kernel replay.",
    tags=("pipeline", "llm"),
)
def pipeline_curate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.ivf import ivf_near_pairs

    ok, docs = _curated_embeddings_base(spark, sf_dir)
    pairs = ivf_near_pairs(ok, _EMB_COS_THRESHOLD, nlist=8, nassign=2, seed=42)
    surv = _survivors(ok, pairs)
    b = _bucket("vec_id", "curate_emb")
    return (
        surv.join(docs, surv.vec_id == docs.doc_id)
        .select(
            "vec_id",
            "lang",
            "label",
            F.round("l2", 6).alias("l2_norm"),
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
        )
    )


@register(
    "pipeline_curate_embeddings_graded",
    oracle=f"""
WITH nrm AS (
  SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings) GROUP BY 1
), ok AS (
  SELECT vec_id FROM nrm WHERE nrm > 0
), ex AS (
  SELECT e.vec_id, unnest(e.embedding) AS v,
         generate_subscripts(e.embedding, 1) AS i
  FROM embeddings e JOIN ok USING (vec_id)
), dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
), pairs AS (
  SELECT d.a_id, d.b_id
  FROM dots d
  JOIN nrm na ON na.vec_id = d.a_id
  JOIN nrm nb ON nb.vec_id = d.b_id
  WHERE d.dot / (na.nrm * nb.nrm) >= {_EMB_COS_THRESHOLD}
), surv AS (
  SELECT vec_id FROM ok WHERE vec_id NOT IN (SELECT b_id FROM pairs)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM ok) AS n_vecs,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_exact_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_exact_survivors,
       true AS pair_recall_ok,
       true AS survivor_jaccard_ok
""",
    doc="Self-grading verdict for pipeline_curate_embeddings: the SAME "
    "hygiene gate and greedy survivor rule are replayed with the EXACT "
    "cosine pair kernel (broadcast BLAS, full DuckDB oracle on counts), "
    "and the IVF-candidate pipeline is compared against it in-query: "
    "pair_recall_ok pins |ANN pairs ∩ exact pairs| / |exact pairs|, "
    "survivor_jaccard_ok pins |ANN surv ∩ exact surv| / |ANN surv ∪ "
    "exact surv|; both thresholds sit under the worst tri-scale "
    "measurement (see tests).  KMeans cells are pure functions of "
    "seed 42, so the verdict is deterministic.",
    tags=("pipeline", "llm"),
)
def pipeline_curate_embeddings_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cobradb_spark.operators.ivf import ivf_near_pairs
    from cobradb_spark.operators.knn import cosine_near_pairs

    ok, _docs = _curated_embeddings_base(spark, sf_dir)
    ex_pairs = cosine_near_pairs(ok, _EMB_COS_THRESHOLD).select("a_id", "b_id")
    ann_pairs = ivf_near_pairs(
        ok, _EMB_COS_THRESHOLD, nlist=8, nassign=2, seed=42
    ).select("a_id", "b_id")

    # Every pair/survivor statistic derives from ONE full-outer
    # comparison of the two pair sets (r14 review finding #2: the first
    # draft referenced the uncached O(n^2)-BLAS exact subtree from four
    # aggregate branches, re-executing it ~4x — there is no exchange
    # below those branches for ReuseExchange to dedupe).  Both pair
    # sets are (a_id, b_id)-unique, so the join is 1:1; survivor counts
    # come from drop-set complements within `ok`:
    #   n_exact_survivors = n_vecs - |distinct exact b_id|
    #   n_ann_survivors   = n_vecs - |distinct ann b_id|
    #   |surv intersection| = n_vecs - |distinct b_id of EITHER set|
    # which turns the two anti-join survivor evaluations into plain
    # algebra over the same single comparison frame.
    cmp = (
        ex_pairs.withColumn("ex", F.lit(1))
        .join(ann_pairs.withColumn("ann", F.lit(1)), ["a_id", "b_id"], "full")
        .select(
            "b_id",
            F.coalesce("ex", F.lit(0)).alias("ex"),
            F.coalesce("ann", F.lit(0)).alias("ann"),
        )
    )
    per_b = cmp.groupBy("b_id").agg(
        F.sum("ex").alias("ex_pairs_b"),
        F.sum(F.col("ex") * F.col("ann")).alias("hits_b"),
        F.max("ex").alias("ex_drop"),
        F.max("ann").alias("ann_drop"),
    )
    stats = per_b.agg(
        F.sum("ex_pairs_b").cast("bigint").alias("n_exact_pairs"),
        F.sum("hits_b").cast("bigint").alias("pair_hits"),
        F.sum("ex_drop").cast("bigint").alias("n_ex_drops"),
        F.sum("ann_drop").cast("bigint").alias("n_ann_drops"),
        F.count("*").cast("bigint").alias("n_union_drops"),
    )
    n_vecs = ok.agg(F.count("*").cast("bigint").alias("n_vecs"))
    surv_inter = F.col("n_vecs") - F.col("n_union_drops")
    n_ex_surv = F.col("n_vecs") - F.col("n_ex_drops")
    n_ann_surv = F.col("n_vecs") - F.col("n_ann_drops")
    return n_vecs.crossJoin(F.broadcast(stats)).select(
        "n_vecs",
        "n_exact_pairs",
        n_ex_surv.alias("n_exact_survivors"),
        # pooled pair recall >= 0.60 (measured 0.79-0.92 tri-scale;
        # threshold sits ~0.2 under the worst measurement, the LSH
        # graded-key convention)
        (
            F.col("pair_hits") * 1000 >= F.lit(600) * F.col("n_exact_pairs")
        ).alias("pair_recall_ok"),
        # survivor-set Jaccard >= 0.85 (measured 0.92-0.99 tri-scale);
        # union = |ann surv| + |ex surv| - |intersection|
        (
            surv_inter * 1000 >= F.lit(850) * (n_ann_surv + n_ex_surv - surv_inter)
        ).alias("survivor_jaccard_ok"),
    )
