"""Benchmark decontamination + boilerplate n-gram mining (north-star
extension, BASELINE.json) — the two corpus-hygiene passes every LLM training
pipeline runs besides dedup:

  * decontamination: find training documents sharing long word n-grams with a
    held-out benchmark set (the GPT-3/PaLM recipe: 8- to 13-gram collision ⇒
    the example leaked into training data). The benchmark set here is a
    deterministic hash-slice of the corpus (doc_id mod 97 — a stand-in for
    an external eval set, keeping the query self-contained and oracle-able).
  * boilerplate mining: n-grams repeated across many distinct documents
    (headers, disclaimers, navigation chrome — the C4/RefinedWeb repeated-
    line filter generalized to n-grams, since the synthetic corpus has no
    line structure).

Design for 100 TB:
  * the benchmark n-gram set is tiny → broadcast; training docs stream
    through a map-side explode + broadcast semi join — the corpus is never
    shuffled, the only exchange is the per-doc overlap count (doc_id, 1)
    pairs.
  * boilerplate mining is explode → distinct → count per gram: two linear
    shuffles of (gram, doc_id), standard word-count shape with map-side
    partial aggregation.

The reference has no decontamination at all (it trains directly on the raw
split from split_data.py:77-84); this extends SURVEY §2.10's M4 split
hygiene to content-level leakage.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table

# Gram lengths are tuned DOWN to the synthetic corpus (30-word vocabulary,
# 25-80-word docs): real pipelines over natural text use 8-13-gram collisions
# (GPT-3: 13), which over this vocabulary never fire across the holdout
# boundary — a vacuously-empty oracle check proves nothing, so 4-grams keep
# the check value-bearing (dozens of contaminated docs at every SF).
NGRAM_N = 4  # contamination gram length
BOILER_N = 4  # boilerplate gram length
BOILER_MIN_DOCS = 3  # gram must appear in ≥ this many distinct docs
BENCH_MOD = 13  # doc_id % BENCH_MOD == 0 → "benchmark" holdout (~8%)


def _word_ngrams(docs: DataFrame, n: int, distinct: bool = True) -> DataFrame:
    """(doc_id, gram): distinct word n-grams via arrays_zip of n shifted
    slices — built and exploded inside one codegen stage with the scan
    (same technique as dedup._shingles_df, which measured 2.5× faster than
    lead() windows and 10× faster than HOF lambdas).

    ``distinct=False`` skips the per-doc set shuffle (the relation stays
    in the scan stage): consumers that immediately re-aggregate to a
    GLOBAL gram set (the benchmark gram index) would otherwise pay two
    distinct exchanges for one set; per-doc counting consumers
    (decontam_overlap's shared-gram counts, boilerplate document
    frequency) must keep the default."""
    base = docs.select("doc_id", F.split("text", " ").alias("ws"))
    cnt = F.greatest(F.size("ws") - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice("ws", i + 1, cnt) for i in range(n)])
    out = base.select("doc_id", F.explode(zipped).alias("g")).select(
        "doc_id",
        F.concat_ws(" ", *[F.col(f"g.{i}") for i in range(n)]).alias("gram"),
    )
    return out.distinct() if distinct else out


def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training doc: how many distinct benchmark NGRAM_N-grams it
    contains. Only contaminated docs (≥1 shared gram) are emitted — the
    remediation list a pipeline would quarantine before the next training
    run."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench_grams = (
        _word_ngrams(bench, NGRAM_N, distinct=False).select("gram").distinct()
    )
    train_grams = _word_ngrams(train, NGRAM_N)
    return (
        train_grams.join(F.broadcast(bench_grams), "gram", "inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


def decontam_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline report: contaminated-doc count and total training docs
    per source (what decides whether a source is dropped wholesale).

    The contaminated-doc join is UNHINTED: contamination is the quantity
    being MEASURED — on heavily leaked corpora (the case the fuzzy-decontam
    leak-safety work treats as the one that matters) it is unbounded, so a
    forced broadcast would OOM exactly when the report is most needed
    (the r9-verdict hint class). The join carries (doc_id, flag) rows
    only; AQE broadcasts at runtime when contamination really is rare."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % BENCH_MOD != 0).select("doc_id", "source")
    contaminated = decontam_overlap(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("is_contaminated")
    )
    return (
        train.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train_docs"),
            F.sum(F.coalesce("is_contaminated", F.lit(0))).alias("n_contaminated"),
        )
    )


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILER_N-grams appearing in ≥ BOILER_MIN_DOCS distinct documents, with their
    document frequency — the repeated-boilerplate candidates a cleaning pass
    would strip."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _word_ngrams(docs, BOILER_N)
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
    )


STRIP_TOP_K = 256  # strip list capped: worst offenders only, by doc-frequency


def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning pass boilerplate_ngrams feeds: REMOVE every word span
    covered by a top-offender repeated BOILER_N-gram and reassemble the
    document (C4's repeated-line filter as an actual rewrite, not just a
    report).

    Scale shape: the strip list is the TOP STRIP_TOP_K grams by document
    frequency (ties broken on the gram string — total order). Covered
    positions are found with a broadcast HASH join of the positional
    gram explode against that K-row list — O(1) probes inside
    whole-stage codegen — NOT a per-position higher-order set scan: the
    HOF form (array_contains over a broadcast array, interpreted per
    element) measured 331 s at sf0.1 vs ~2 s for the join form, because
    it costs O(words · K) interpreted string compares. Only (doc_id,
    hit-position) rows — ∝ stripped spans, not corpus size — are then
    aggregated per doc and joined back (small side, AQE broadcasts it),
    so the document text itself still never crosses an exchange; the
    final rewrite is one cheap per-word filter against the doc's own
    tiny covered-position array."""
    docs = load_table(spark, sf_dir, "documents")
    grams = boilerplate_ngrams(spark, sf_dir)
    top = grams.orderBy(F.desc("n_docs"), "gram").limit(STRIP_TOP_K)
    base = docs.select("doc_id", F.split("text", " ").alias("ws"))
    cnt = F.greatest(F.size("ws") - (BOILER_N - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice("ws", i + 1, cnt) for i in range(BOILER_N)])
    pos_grams = base.select(
        "doc_id", F.posexplode(zipped).alias("i0", "g")
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("start"),
        F.concat_ws(" ", *[F.col(f"g.{i}") for i in range(BOILER_N)]).alias(
            "gram"
        ),
    )
    covered = (
        pos_grams.join(F.broadcast(top.select("gram")), "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (BOILER_N - 1))
            ).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("covered"))
    )
    # UNHINTED: the K-gram cap bounds the STRIP LIST, not the hit set —
    # boilerplate grams by definition hit a large doc fraction, so `covered`
    # is corpus-fraction with per-row position-set payloads (the r9-verdict
    # broadcast class). AQE broadcasts from runtime stats when the hit set
    # is small; otherwise this is one (doc_id)-keyed shuffle of hit rows —
    # the document text side still never crosses an exchange pre-join.
    j = base.join(covered, "doc_id", "left")
    kept = F.filter(
        "ws",
        lambda w, i: ~F.coalesce(
            F.array_contains("covered", i + 1), F.lit(False)
        ),
    )
    return j.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        (F.size("ws") - F.size(kept)).alias("n_removed"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )


def _ngram_sql(n: int, source: str = "documents") -> str:
    """DuckDB CTE body for distinct word n-grams of ``source``(doc_id, text)."""
    parts = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return f"""
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - {n - 2}),
                  i -> {parts})) AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS ws, text FROM {source})
  )
"""


def decontam_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination: training docs that are near-duplicates of a
    benchmark doc (verified 3-gram Jaccard ≥ τ via the MinHash-LSH path) —
    the document-level complement of decontam_overlap's exact n-gram
    check. Exact matching catches verbatim leaks; this catches the
    paraphrased / reformatted / partially-rewritten eval leakage the
    GPT-3-era exact filters famously missed (cf. the fuzzy dedup-based
    decontamination in the PaLM / Llama data notes). Output:
    (bench_doc_id, train_doc_id, jaccard) — the quarantine list with the
    evidence attached.

    TRAIN SIDE UNCAPPED (r9, closes the r8 ADVICE blind spot): the shared
    near-dup pipeline drops LSH buckets over LSH_BUCKET_CAP, which is
    correct for the dedup SELF-join (per-bucket pair mass is s²/2 —
    quadratic blow-up) but catastrophic for decontamination — benchmark
    content leaked/replicated more than CAP times collides in every
    band, so the heaviest leakage was precisely the case the shared cap
    silently dropped. The bench×train join is structurally different:
    per-bucket candidate mass is s_bench·s_train (BILINEAR, bounded by
    the eval-set side), so no train-side cap is needed for asymptotic
    safety and none is applied — a bench doc replicated any number of
    times in training is always fully quarantined. The only capped side
    is the BENCH side, by deterministic rank truncation (the CAP
    lowest-id bench rows per bucket): it bounds total candidate mass by
    CAP·Σ s_train ≤ CAP·4n — hard-linear in the corpus — and only
    drops intra-eval-set duplicate attribution (a bucket with >CAP bench
    rows holds near-identical BENCH docs; every colliding train doc
    still pairs with the kept representatives, so the quarantine set is
    unchanged, only the duplicate bench-side evidence rows are).

    Scale shape: the eval set is tiny by nature (here the doc_id % mod
    slice) → the bench band table is small and its truncation window
    exchanges bench-sized rows only; the bench⋈train band join is one
    equi-shuffle; shingle verification is semi-filtered to candidate
    docs. Nothing is quadratic and no corpus-sized relation is
    broadcast. [extension]"""
    from pyspark.sql import Window

    from .dedup import (
        LSH_BUCKET_CAP,
        JACCARD_THRESHOLD,
        _band_structs,
        _minhash_df,
        _shingles_df,
    )

    mh = _minhash_df(spark, sf_dir)
    bands = (
        mh.select("doc_id", F.explode(_band_structs()).alias("bs"))
        .select(
            "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
        )
        .localCheckpoint(eager=False)
    )
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench_w = Window.partitionBy("band", "sig").orderBy("doc_id")
    bench = (
        bands.filter(is_bench)
        .withColumn("rn", F.row_number().over(bench_w))
        .filter(F.col("rn") <= LSH_BUCKET_CAP)
        .select(F.col("doc_id").alias("bench_doc_id"), "band", "sig")
    )
    train = bands.filter(~is_bench).select(
        F.col("doc_id").alias("train_doc_id"), "band", "sig"
    )
    cands = (
        bench.join(train, ["band", "sig"])
        .select("bench_doc_id", "train_doc_id")
        .distinct()
    )
    cand_docs = (
        cands.select(F.col("bench_doc_id").alias("doc_id"))
        .union(cands.select("train_doc_id"))
        .distinct()
    )
    sh = _shingles_df(spark, sf_dir, doc_filter=cand_docs)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("bench_doc_id"), "shingle")
    sb = sh.select(F.col("doc_id").alias("train_doc_id"), "shingle")
    inter = (
        cands.join(sa, "bench_doc_id")
        .join(sb, ["train_doc_id", "shingle"])
        .groupBy("bench_doc_id", "train_doc_id")
        .agg(F.count("*").alias("n_inter"))
    )
    ca = counts.select(
        F.col("doc_id").alias("bench_doc_id"), F.col("n_sh").alias("na")
    )
    cb = counts.select(
        F.col("doc_id").alias("train_doc_id"), F.col("n_sh").alias("nb")
    )
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(ca, "bench_doc_id")
        .join(cb, "train_doc_id")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("bench_doc_id", "train_doc_id", jac.alias("jaccard"))
    )


# --- stored-index incremental decontamination (r9) ----------------------------
# Completes the per-batch ingestion family (exact dedup → MinHash near-dup →
# semantic → decontamination): an incoming TRAIN batch is screened against
# the STORED benchmark n-gram index before it ever enters the corpus —
# cheaper and safer than the corpus-wide decontam_overlap re-run, which
# becomes the periodic audit rather than the per-crawl gate. There is no
# recompute-per-call twin here: the index is BENCHMARK-sized (eval suites
# are fixed, corpus-independent), so storing it is the only sensible form.
def _ensure_bench_gram_index(spark: SparkSession, sf_dir: str) -> str:
    """Write the distinct benchmark NGRAM_N-gram set as a stored table,
    once per (session, corpus) — built when a benchmark suite is
    registered, not per batch. Cache keying / table-tag hygiene:
    scratch."""
    from .. import scratch

    t = f"bench_grams_{scratch.table_tag(sf_dir)}"

    def build() -> str:
        scratch.drop_table(spark, t)
        docs = load_table(spark, sf_dir, "documents")
        bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
        _word_ngrams(bench, NGRAM_N, distinct=False).select(
            "gram"
        ).distinct().write.mode("overwrite").saveAsTable(t)
        return t

    return scratch.get_or_build(spark, "bench_grams", sf_dir, build)


def incremental_decontam_indexed(
    spark: SparkSession, sf_dir: str, batch_cap: int | None = None
) -> DataFrame:
    """Ingestion-time decontamination: the incoming batch (the family's
    shared doc_id slice, minus any doc that IS benchmark) screened
    against the stored benchmark gram index — per batch doc, the count
    of distinct benchmark NGRAM_N-grams it contains (same contract as
    decontam_overlap, restricted to the batch). Output:
    (doc_id, n_shared_grams), contaminated batch docs only.

    Scale shape: per-batch cost is the batch's gram explode + one hash
    join against the stored index. The broadcast here is sound at any
    corpus size — the payload is ∝ the BENCHMARK suite (fixed by the
    eval sets, corpus-independent), unlike the corpus-fraction relations
    de-hinted this round. The benchmark n-gram pipeline never runs in
    the per-batch plan (plan-pinned: the index table is scanned, and no
    un-negated bench filter appears).

    ``batch_cap`` (tooling only, not registered): bounds the batch to
    doc_id < batch_cap so tools_scale_study can grow the corpus at fixed
    batch size. [extension]"""
    from .dedup import INCR_MOD, INCR_REM

    t = _ensure_bench_gram_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % INCR_MOD == INCR_REM) & (
        F.col("doc_id") % BENCH_MOD != 0
    )
    if batch_cap is not None:
        is_batch = is_batch & (F.col("doc_id") < batch_cap)
    batch_grams = _word_ngrams(docs.filter(is_batch), NGRAM_N)
    return (
        batch_grams.join(F.broadcast(spark.table(t)), "gram", "inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


QUERIES = {
    "decontam_overlap": decontam_overlap,
    "decontam_stats": decontam_stats,
    "boilerplate_ngrams": boilerplate_ngrams,
    "boilerplate_strip": boilerplate_strip,
    "decontam_fuzzy_pairs": decontam_fuzzy_pairs,
    "incremental_decontam_indexed": incremental_decontam_indexed,
}

_POS_GRAM = " || ' ' || ".join(f"ws[i+{j}]" for j in range(BOILER_N))

ORACLE = {
    "decontam_overlap": f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} <> 0),
bench_grams AS (SELECT DISTINCT gram FROM ({_ngram_sql(NGRAM_N, "bench")})),
train_grams AS ({_ngram_sql(NGRAM_N, "train")})
SELECT t.doc_id, count(*) AS n_shared_grams
FROM train_grams t JOIN bench_grams b USING (gram)
GROUP BY t.doc_id
""",
    "decontam_stats": f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} <> 0),
bench_grams AS (SELECT DISTINCT gram FROM ({_ngram_sql(NGRAM_N, "bench")})),
train_grams AS ({_ngram_sql(NGRAM_N, "train")}),
contaminated AS (
  SELECT t.doc_id FROM train_grams t JOIN bench_grams b USING (gram)
  GROUP BY t.doc_id
)
SELECT d.source, count(*) AS n_train_docs,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated
FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE d.doc_id % {BENCH_MOD} <> 0
GROUP BY d.source
""",
    "boilerplate_ngrams": f"""
WITH grams AS ({_ngram_sql(BOILER_N)})
SELECT gram, count(*) AS n_docs
FROM grams GROUP BY gram HAVING count(*) >= {BOILER_MIN_DOCS}
""",
    "boilerplate_strip": f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pos_grams AS (
  SELECT doc_id, i, {_POS_GRAM} AS gram
  FROM ws CROSS JOIN unnest(range(1, len(ws) - {BOILER_N - 2})) AS t(i)
),
common AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS nd FROM pos_grams
    GROUP BY gram HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
  ) ORDER BY nd DESC, gram LIMIT {STRIP_TOP_K}
),
covered AS (
  SELECT DISTINCT p.doc_id, p.i + d.d AS pos
  FROM pos_grams p JOIN common c USING (gram)
  CROSS JOIN unnest(range(0, {BOILER_N})) AS d(d)
),
words AS (
  SELECT doc_id, p, ws[p] AS w
  FROM ws CROSS JOIN unnest(range(1, len(ws) + 1)) AS t(p)
),
kept AS (
  SELECT w.doc_id, w.p, w.w
  FROM words w ANTI JOIN covered c ON w.doc_id = c.doc_id AND w.p = c.pos
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(w, ' ' ORDER BY p) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_words,
       CAST(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) AS INTEGER)
         AS n_removed,
       coalesce(a.cleaned_text, '') AS cleaned_text
FROM documents d LEFT JOIN agg a USING (doc_id)
""",
}


def _fuzzy_oracle() -> str:
    """Mirror of the leak-safe candidate generation: the TRAIN side is
    uncapped (the bench×train join is bilinear, not quadratic), the
    BENCH side is rank-truncated to the CAP lowest ids per bucket,
    verification is exact 3-gram Jaccard."""
    from .dedup import (
        LSH_BUCKET_CAP,
        JACCARD_THRESHOLD,
        _BANDS_SQL,
        _MINHASH_SQL,
        _SHINGLES_SQL,
    )

    return f"""
WITH {_SHINGLES_SQL.strip()},
{_MINHASH_SQL},
{_BANDS_SQL},
bench_bands AS (
  SELECT doc_id, band, sig FROM (
    SELECT doc_id, band, sig,
           row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
    FROM bands WHERE doc_id % {BENCH_MOD} = 0
  ) WHERE rn <= {LSH_BUCKET_CAP}
),
train_bands AS (
  SELECT doc_id, band, sig FROM bands WHERE doc_id % {BENCH_MOD} <> 0
),
fpairs AS (
  SELECT DISTINCT b.doc_id AS bench_doc_id, t.doc_id AS train_doc_id
  FROM bench_bands b JOIN train_bands t
    ON b.band = t.band AND b.sig = t.sig
),
counts AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.bench_doc_id, p.train_doc_id, count(*) AS n_inter
  FROM fpairs p
  JOIN shingles a ON a.doc_id = p.bench_doc_id
  JOIN shingles b ON b.doc_id = p.train_doc_id AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT i.bench_doc_id, i.train_doc_id,
       CAST(i.n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.n_inter) AS jaccard
FROM inter i
JOIN counts ca ON ca.doc_id = i.bench_doc_id
JOIN counts cb ON cb.doc_id = i.train_doc_id
WHERE i.n_inter * 1.0 / (ca.n_sh + cb.n_sh - i.n_inter)
      >= {JACCARD_THRESHOLD}
"""


ORACLE["decontam_fuzzy_pairs"] = _fuzzy_oracle()

from .dedup import INCR_MOD as _INCR_MOD  # noqa: E402
from .dedup import INCR_REM as _INCR_REM  # noqa: E402

ORACLE["incremental_decontam_indexed"] = f"""
WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} = 0),
bench_grams AS (SELECT DISTINCT gram FROM ({_ngram_sql(NGRAM_N, "bench")})),
batch AS (SELECT doc_id, text FROM documents
          WHERE doc_id % {_INCR_MOD} = {_INCR_REM}
            AND doc_id % {BENCH_MOD} <> 0),
batch_grams AS ({_ngram_sql(NGRAM_N, "batch")})
SELECT t.doc_id, count(*) AS n_shared_grams
FROM batch_grams t JOIN bench_grams b USING (gram)
GROUP BY t.doc_id
"""
