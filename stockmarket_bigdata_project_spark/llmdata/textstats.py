"""Text analysis operators for training-data curation (north-star extension):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All pure Catalyst expressions over the documents table —
per-row, embarrassingly parallel, no shuffle at all until a final aggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table

# marker vocabularies for the n-gram/keyword language heuristic (the operator
# under test is the scoring mechanics, not real-world lang-ID accuracy)
LANG_MARKERS = {
    "en": ["the", "a", "data"],
    "es": ["query", "table", "row"],
    "de": ["join", "group", "sort"],
}
STOPWORDS = ["the", "a", "of", "and"]
FP_MOD = 1_000_000_007
FP_BASE = 31


def _tok() -> F.Column:
    return F.split(F.col("text"), " ")


def _count_in(words: list[str]) -> F.Column:
    """Number of whitespace tokens of `text` that are in words. One SQL
    expression rather than a Python-lambda filter, which costs about a dozen
    Py4J round trips to build; the expression tree is the same."""
    in_list = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter(split(text, ' '), t -> t IN ({in_list})))")


def lang_id_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-count score per language + argmax detection (alphabetical
    tie-break) — the deterministic skeleton of n-gram language ID."""
    docs = load_table(spark, sf_dir, "documents")
    scores = {
        lang: _count_in(words).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", "lang", *scores.values())
    s_en, s_es, s_de = (F.col(f"score_{l}") for l in ("en", "es", "de"))
    detected = (
        F.when((s_de >= s_en) & (s_de >= s_es), "de")
        .when((s_en >= s_es), "en")
        .otherwise("es")
    )
    return scored.select(
        "doc_id",
        "lang",
        "score_en",
        "score_es",
        "score_de",
        detected.alias("detected_lang"),
    )


def _idiv(a: "F.Column", b: "F.Column") -> "F.Column":
    """Exact integer division of positive longs as Columns: the quotient is
    far below 2^53, so (a - a%b)/b is one exact binary64 division."""
    return (a - F.pmod(a, b)) / b


def _round_div_micro(num: "F.Column", den: "F.Column") -> "F.Column":
    """round-half-up(num/den) for positive integer Columns — the
    engine-neutral quantizer. `round(double, 6)` is NOT: Spark rounds the
    shortest-repr decimal of the binary64, DuckDB rounds after a float
    multiply by 10^6, and at sf0.1 a document's score lands exactly on a
    half-microunit boundary where they disagree (caught by the sf0.1
    oracle sweep, round 2)."""
    return _idiv(2 * num + den, 2 * den)


def quality_exprs() -> dict[str, "F.Column"]:
    """The quality-formula expressions over a `text` column — the single
    source of truth shared by quality_scores and the corpus pipeline
    (corpus._quality_cols delegates here, so the two can't diverge).

    The score is defined in exact integer micro-units (one rational,
    rounded half-up, then one division by 10^6 that both engines perform
    identically):
        score = [500000·min(1, n/200) + 300000·(1 − stop/n)
                 + 200000·min(1, c/(8n))]  over common denominator 8n,
    with n = token count, stop = stopword count, c = chars − (n−1)."""
    toks = _tok()
    n_tokens = F.size(toks)
    n = n_tokens.cast("long")
    n_chars = F.length("text")
    c = (n_chars - (n_tokens - 1)).cast("long")  # chars minus spaces
    avg_tok_len = c / n
    stop = _count_in(STOPWORDS).cast("long")
    stop_ratio = stop / n
    t1 = F.least(F.lit(500000).cast("long"), 2500 * n) * (8 * n)
    t2 = 2400000 * (n - stop)
    t3 = F.least(1600000 * n, 200000 * c)
    micro = _round_div_micro(t1 + t2 + t3, 8 * n)
    score = F.when(n_tokens < 10, 0.0).otherwise(micro / 1000000.0)
    micro_long = (
        F.when(n_tokens < 10, F.lit(0)).otherwise(micro).cast("long")
    )
    return {
        "quality_micro": micro_long,
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "n_long": n,
        "c_long": c,
        "stop_long": stop,
        "avg_tok_len": avg_tok_len,
        "stop_ratio": stop_ratio,
        "quality_score": score,
    }


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / token-shape / stopword-ratio quality features + a composite
    score — the C4/Gopher-style heuristic-filter shape."""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_exprs()
    # ratios quantized at 6dp via the same integer-rational rounding as the
    # score (round(double, 6) is not engine-neutral at half boundaries)
    avg_len_6 = _round_div_micro(1000000 * q["c_long"], q["n_long"]) / 1000000.0
    stop_6 = _round_div_micro(1000000 * q["stop_long"], q["n_long"]) / 1000000.0
    return docs.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        q["n_chars"].cast("long").alias("n_chars_actual"),
        avg_len_6.alias("avg_token_len"),
        stop_6.alias("stopword_ratio"),
        q["quality_score"].alias("quality_score"),
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish subword estimate (regex word/number/punct
    pieces) + per-source aggregate — the 'how many tokens is this corpus'
    query every training pipeline runs."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(_tok())
    bpe_ish = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]{1,4}|[0-9]+|[^a-z0-9 ]"), 0)
    )
    per_doc = docs.select(
        "doc_id", "source", ws.alias("ws_tokens"), bpe_ish.alias("bpe_tokens")
    )
    # The mean is emitted as an INTEGER micro-unit value (round-half-up of
    # 10^6·mean): r3's gate red was the oracle's sum(int) → HUGEINT leaking
    # into a driver-side dtype conversion (playbook rule 11); pure-BIGINT
    # output removes the class entirely.
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        _round_div_micro(1000000 * F.sum("bpe_tokens"), F.count("*"))
        .cast("long")
        .alias("avg_bpe_micro"),
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over the token stream (mod 1e9+7, base 31;
    token contribution = ascii(first char) + 7·length) — an order-sensitive
    content fingerprint (reordered words ⇒ different print, unlike a bag
    hash). Pure fold — F.aggregate / DuckDB list_reduce."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tok()
    tok_val = lambda t: (F.ascii(t) + F.length(t) * 7).cast("long")  # noqa: E731
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * FP_BASE + tok_val(t)) % FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


N_RARE_TOKENS = 8  # the corpus-frequency tail treated as "rare"


def rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-filter proxy without transcendentals: the share of a
    doc's tokens drawn from the corpus-frequency tail (the N_RARE_TOKENS
    least-frequent tokens, ties lexicographic). Real pipelines score docs
    with an LM perplexity; the deterministic integer form keeps the same
    plan shape — corpus-wide term frequencies (one word-count aggregate,
    tiny result → broadcast) joined back to the exploded token stream —
    while staying value-checkable (log() is not bit-identical across
    engines; integer counts and one shared division are).

    Scale: the vocab aggregate is word-count over the corpus (linear, one
    shuffle of (token, 1) partials); the rare set is top-k of the SMALL
    vocab relation; the per-doc pass re-explodes map-side and shuffles only
    (doc_id) count pairs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tok()).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("tok_freq"))
    rare = (
        vocab.orderBy(F.asc("tok_freq"), F.asc("tok"))
        .limit(N_RARE_TOKENS)
        .select("tok", F.lit(1).alias("is_rare"))
    )
    agg = (
        toks.join(F.broadcast(rare), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("is_rare", F.lit(0))).alias("n_rare"),
        )
    )
    # ratio in integer micro-units (round-half-up) — pure-BIGINT output, no
    # HUGEINT in the oracle, no double anywhere (playbook rule 11)
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_rare",
        _round_div_micro(1000000 * F.col("n_rare"), F.col("n_tokens"))
        .cast("long")
        .alias("rare_ratio_micro"),
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals, entirely per-row (zero shuffle —
    the scalable form of 'measure repetition' is map-side expressions, not
    an exploded token shuffle):

      * distinct_ratio — unique tokens / tokens (low ⇒ looping text),
      * dup_bigram_ratio — repeated bigrams / bigrams (the Gopher
        duplicate-n-gram-fraction signal at n=2),
      * max_token_run — longest run of the same consecutive token, a
        sequential fold (F.aggregate with a struct accumulator; the DuckDB
        twin is the gap-and-islands window form because DuckDB 1.0's
        list_reduce mis-carries list-typed struct fields).

    Ratios are single binary64 divisions of exact integers — bit-identical
    across engines; no round() anywhere (playbook rule 1)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tok()
    n_tokens = F.size(toks)
    nd = F.size(F.array_distinct(toks)).cast("long")
    n_bi = (n_tokens - 1).cast("long")
    bigrams = F.zip_with(
        F.slice(toks, 1, n_tokens - 1),
        F.slice(toks, 2, n_tokens - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_bi_distinct = F.size(F.array_distinct(bigrams)).cast("long")
    dup_bi = F.when(n_tokens >= 2, (n_bi - n_bi_distinct) / n_bi).otherwise(
        F.lit(0.0)
    )
    seed = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def _step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    max_run = F.aggregate(toks, seed, _step, lambda acc: acc["best"])
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (nd / n_tokens).alias("distinct_ratio"),
        dup_bi.alias("dup_bigram_ratio"),
        max_run.alias("max_token_run"),
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (email/phone regex redaction) — the curation pass every
    training pipeline runs before anything ships. The synthetic corpus
    contains no PII, so the query first injects a deterministic
    pseudo-email and pseudo-phone per doc and then redacts them: the regex
    mechanics are exercised against real hits, per-row map-side, and the
    result (hit counts + redacted-text digest) is value-checkable. Patterns
    stay inside the RE2 ∩ java.util.regex common subset (char classes,
    bounded repetition — no backrefs/lookarounds), so both engines match
    identically."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email_re = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone_re = r"\+1-[0-9]{3}-[0-9]{4}"
    redacted = F.regexp_replace(
        F.regexp_replace(injected, email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(injected, F.lit(email_re), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(injected, F.lit(phone_re), 0)).alias(
            "n_phones"
        ),
        F.md5(redacted).alias("redacted_md5"),
    )


def vocab_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary spectrum (frequency-of-frequencies): for each
    occurrence count, how many distinct token types have it and how much
    token mass they carry — the Zipf/heaps profile a corpus audit reads to
    spot boilerplate floods and tokenizer pathologies. Plan shape: word
    count (partial+final agg over (token) — the only data-sized shuffle),
    then a second aggregate over the SMALL vocab relation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tok()).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("tok_freq"))
    return vocab.groupBy("tok_freq").agg(
        F.count("*").alias("n_types"),
        F.sum("tok_freq").alias("token_mass"),
    )


SALIENT_TOP_K = 3


def salient_terms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K salient tokens per doc by tf/df — the tf-idf ranking with the
    transcendental idf deliberately replaced: ln() is not bit-portable
    across engines, but tf/df (one binary64 quotient of two exact BIGINTs)
    ranks identically to tf·(1/df) and value-checks exactly. Plan shape:
    token tf (word-count shuffle), doc-frequency over the distinct
    (doc, tok) relation (vocab-sized), equi-join back, per-doc top-K via
    row_number — never a global sort. Ties break on the token string
    (unique within a doc), so the ranking is a total order."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tok()).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = (
        toks.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    scored = tf.join(df_, "tok").withColumn(
        "salience", F.col("tf").cast("double") / F.col("df")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("salience"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SALIENT_TOP_K)
        .select("doc_id", "tok", "tf", "df", "salience", "rank")
    )


N_FEATURE_BUCKETS = 64


def feature_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger et al.): token → bucket =
    (first 16 bits of md5(token)) mod N_FEATURE_BUCKETS; output the per-doc
    sparse count vector as (doc_id, bucket, n_tokens) rows. Engine-neutral
    by construction (md5 + integer arithmetic); one (doc, bucket) shuffle
    with map-side partial counts — the fixed-width featurization step in
    front of any linear model at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tok()).alias("tok"))
    hv = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int")
    return (
        toks.select("doc_id", (hv % N_FEATURE_BUCKETS).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n_tokens"))
    )


def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: rank the corpus by LM score and cut
    into perplexity terciles (Wenzek et al. 2020 keep the head for
    training, review the middle, drop the tail). Ordering key is the exact
    integer micro mean-bits from lm_perplexity_bits with doc_id as the
    total-order tiebreak, so the ntile boundaries are engine-deterministic.
    At cluster scale the global ntile would be replaced by approximate
    percentile cutoffs from a sample (two map passes, no global sort); the
    exact tercile is the semantics under test here."""
    scored = lm_perplexity_bits(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        "sum_bits",
        _round_div_micro(
            F.col("sum_bits") * F.lit(1_000_000), F.col("n_tokens")
        )
        .cast("long")
        .alias("mean_bits_micro"),
    )
    w = Window.orderBy("mean_bits_micro", "doc_id")
    tier = F.ntile(3).over(w)
    return scored.select(
        "doc_id",
        "mean_bits_micro",
        tier.alias("tercile"),
        F.when(tier == 1, "head")
        .when(tier == 2, "middle")
        .otherwise("tail")
        .alias("ccnet_bucket"),
    )


CCNET_SAMPLE_MOD = 5  # deterministic hash sample driving the cutoffs


def lm_ccnet_buckets_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of the CCNet bucketing: tercile CUTOFFS come from a
    deterministic hash sample (doc_id % CCNET_SAMPLE_MOD == 0) and are
    broadcast back, so the corpus is never globally sorted —
    lm_perplexity_buckets' exact global ntile (kept as the semantic twin)
    is this module's one RangePartitioning plan, the thing that dies first
    on a 1000-executor cluster.

    Plan shape (pinned in test_plans): map-side filter → ONE hash
    aggregate collecting the sample keys (sort_array is an expression
    inside the aggregate, not a plan Sort) → 1-row broadcast → map-side
    bucket assignment. No Sort, no RangePartitioning, anywhere. The sample
    is bounded by construction (mod chosen so it fits one aggregation
    buffer; at cluster scale you raise the mod, or two-level the collect).

    Determinism: cutoffs are ORDER STATISTICS (ceil(s/3)-th and
    ceil(2s/3)-th smallest sample keys) — no interpolated percentile, no
    float anywhere. Ties are impossible: the sort key is the zero-padded
    string (mean_bits_micro, doc_id), unique per doc, and binary string
    order == numeric order for zero-padded non-negatives on both engines."""
    scored = lm_perplexity_bits(spark, sf_dir).select(
        "doc_id",
        _round_div_micro(
            F.col("sum_bits") * F.lit(1_000_000), F.col("n_tokens")
        )
        .cast("long")
        .alias("mean_bits_micro"),
    )
    key = F.concat(
        F.lpad(F.col("mean_bits_micro").cast("string"), 12, "0"),
        F.lpad(F.col("doc_id").cast("string"), 10, "0"),
    )
    keyed = scored.withColumn("k", key)
    ks = F.sort_array(F.collect_list("k"))

    # empty-sample guard: with no sampled doc (size(ks)=0) element_at(ks, 0)
    # throws on Spark while the oracle's NULL-list subscript yields NULL —
    # a crash-vs-NULL divergence; NULL cutoffs bucket every doc 'tail' on
    # both engines instead
    def _cut(at: F.Column) -> F.Column:
        return F.when(F.size("ks") > 0, F.element_at("ks", at.cast("int")))

    cuts = (
        keyed.filter(F.col("doc_id") % CCNET_SAMPLE_MOD == 0)
        .agg(ks.alias("ks"))
        .select(
            _cut(F.ceil(F.size("ks") / 3)).alias("c1"),
            _cut(F.ceil(2 * F.size("ks") / 3)).alias("c2"),
        )
    )
    return keyed.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "mean_bits_micro",
        F.when(F.col("k") <= F.col("c1"), "head")
        .when(F.col("k") <= F.col("c2"), "middle")
        .otherwise("tail")
        .alias("ccnet_bucket"),
    )


DSIR_TARGET_LANG = "en"  # the "high-quality target" slice DSIR upweights


def dsir_importance_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR):
    score raw documents by log(p_target/p_raw) under two hashed-unigram
    bag-of-words models — the pretraining-corpus reweighting step. The
    target distribution is fit on the DSIR_TARGET_LANG slice of the corpus
    itself; both models use the same hashing-trick buckets as
    feature_hash_counts (md5 16-bit prefix mod N_FEATURE_BUCKETS).

    The float log-likelihood ratio is replaced by EXACT integer Shannon
    code lengths (same ilog2-via-bin idiom as lm_perplexity_bits), with
    Laplace smoothing so empty target buckets stay defined:
    bits_x(b) = ilog2((total_x + B) div (cnt_x(b) + 1)); a doc's
    dsir_bits = Σ_occurrences (bits_raw − bits_target) — positive iff the
    doc codes more cheaply under the target model, the ordering DSIR's
    importance weight induces. target_like = 1 is the keep decision of
    importance resampling with a threshold at weight 1.

    Scale shape: two bucket-count aggregates over a B-row key space, a
    B-row stats relation broadcast back onto the token stream (never the
    reverse), one per-doc agg. Linear; all integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    hv = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int")
    toks = docs.select(
        "doc_id", "lang", F.explode(_tok()).alias("tok")
    ).select("doc_id", "lang", (hv % N_FEATURE_BUCKETS).alias("bucket"))
    raw = toks.groupBy("bucket").agg(F.count("*").alias("cnt_r"))
    tgt = (
        toks.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt_t"))
    )
    stats = raw.join(tgt, "bucket", "left").select(
        "bucket", "cnt_r", F.coalesce("cnt_t", F.lit(0)).alias("cnt_t")
    )
    totals = stats.agg(
        F.sum("cnt_r").alias("total_r"), F.sum("cnt_t").alias("total_t")
    )
    B = N_FEATURE_BUCKETS

    def _bits(total: str, cnt: str) -> F.Column:
        return F.length(
            F.bin(F.expr(f"({total} + {B}) div ({cnt} + 1)"))
        ) - F.lit(1)

    bucket_bits = stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (_bits("total_r", "cnt_r") - _bits("total_t", "cnt_t")).alias(
            "bit_gain"
        ),
    )
    return (
        toks.join(F.broadcast(bucket_bits), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("bit_gain").alias("dsir_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "dsir_bits",
            (F.col("dsir_bits") >= 0).cast("int").alias("target_like"),
        )
    )


VOCAB_SIZE = 24  # top-V token types kept by the toy tokenizer vocabulary


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-VOCAB_SIZE token
    vocabulary (by corpus frequency, ties lexicographic — total order) and
    report each doc's out-of-vocabulary token count and rate — the
    'will this tokenizer cover the corpus' audit run before training a
    BPE/unigram model. Scale shape: one word-count aggregate → top-V of
    the SMALL vocab relation (TakeOrderedAndProject) → broadcast set →
    per-doc OOV counting stays map-side on the token explode; only
    (doc_id, counts) rows shuffle for the final agg. OOV rate is one
    binary64 division of two exact counts."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tok()).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "tok")
        .limit(VOCAB_SIZE)
        .select("tok")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
            "n_oov"
        ),
        (
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).cast("double")
            / F.count("*")
        ).alias("oov_rate"),
    )


def lm_perplexity_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model perplexity quality filter, the CCNet curation step
    (Wenzek et al. 2020: KenLM perplexity buckets the corpus into
    keep/review/discard tiers). North-star extension — the reference has no
    LM scorer. The 5-gram KenLM is replaced by a self-trained unigram LM
    over the corpus itself, and the floating-point log by an EXACT integer
    bit cost: bits(tok) = ilog2(total_tokens div freq(tok))
    = length(bin(quotient)) - 1 — a Shannon-code word length, the same
    integer in Spark and DuckDB (playbook: no transcendental ever touches
    an output column). A doc's mean bits/token is high when its tokens are
    corpus-rare (surprising text) and low for boilerplate — the same
    ordering KenLM perplexity induces, minus the float.

    Scale shape: one token-count aggregate (vocab, hash-partitioned by
    token), a 1-row total broadcast onto it, occurrence→vocab equi-join
    co-partitioned on token, final per-doc agg on doc_id. Linear end to
    end; the unbounded vocab is never broadcast or collected. mean_bits is
    round-half-up micro-quantized integer arithmetic, then one binary64
    division by 1e6 — bit-identical cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tok()).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    total = vocab.agg(F.sum("freq").alias("total_toks"))
    bits_tbl = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        (F.length(F.bin(F.expr("total_toks div freq"))) - F.lit(1)).alias(
            "bits"
        ),
    )
    per_doc = (
        toks.join(bits_tbl, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("bits").alias("sum_bits"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "sum_bits",
        (
            _round_div_micro(
                F.col("sum_bits") * F.lit(1_000_000), F.col("n_tokens")
            )
            / F.lit(1_000_000.0)
        ).alias("mean_bits"),
    )


WIN_K = 3  # tokens per winnowing k-gram
WIN_W = 4  # hashes per winnowing window
_WIN_PACK = 1_000_000  # position-packing radix (doc token positions < 1e6)


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS scheme): hash every WIN_K-token gram with the repo's
    polynomial rolling hash, slide a window of WIN_W consecutive hashes,
    and keep each window's minimum (ties → rightmost position). The
    selected (position, hash) set is the ~2/(w+1)-density fingerprint
    index that guarantees any match of length ≥ WIN_W+WIN_K−1 tokens
    shares a fingerprint — the principled way to subsample a substring-
    dedup index instead of keeping every gram (cf. duplicate_spans, which
    keeps all of them).

    Determinism: the (hash ASC, position DESC) selection is ONE integer
    min over packed h·RADIX + (RADIX − pos) — hash-window evaluable on
    both engines, no struct ordering. Packing bound: h < 1e9+7 and
    pos < 1e6 keep the packed value < 2^50.

    Scale shape: grams explode map-side from the document scan; the only
    exchange is the per-doc window's hashpartitioning(doc_id) (the
    frame is WIN_W rows — constant state); the closing DISTINCT is a
    hash aggregate on the same key. Nothing corpus-wide, nothing
    all-pairs; output ∝ tokens/(w+1). [extension]"""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).withColumn("n", F.size("ws"))
    tok_val = lambda t: (F.ascii(t) + F.length(t) * 7).cast("long")  # noqa: E731
    grams = (
        base.filter(F.col("n") >= WIN_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - F.lit(WIN_K - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.aggregate(
                            F.slice("ws", i, F.lit(WIN_K)),
                            F.lit(0).cast("long"),
                            lambda acc, t: (acc * FP_BASE + tok_val(t))
                            % FP_MOD,
                        ).alias("h"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    wf = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WIN_W - 1)
    return (
        grams.withColumn(
            "packed",
            F.col("h") * _WIN_PACK + (F.lit(_WIN_PACK) - F.col("pos")),
        )
        .withColumn("m", F.min("packed").over(wf))
        .withColumn("c", F.count("*").over(wf))
        .filter(F.col("c") == WIN_W)
        .select(
            "doc_id",
            (F.lit(_WIN_PACK) - F.col("m") % _WIN_PACK)
            .cast("int")
            .alias("sel_pos"),
            F.expr(f"m DIV {_WIN_PACK}").alias("fp_hash"),
        )
        .distinct()
    )


WIN_DF_CAP = 20  # fingerprints in more docs than this are stop-prints
WIN_MIN_SHARED = 2  # candidate pairs must share at least this many prints


def winnowing_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS match step over the winnowed index: documents sharing
    ≥ WIN_MIN_SHARED selected fingerprints become near-dup candidate
    pairs (doc_a < doc_b, with the shared-print count as match weight).
    Complements minhash_lsh_pairs (bag similarity) with the substring-
    overlap candidate generator winnowing guarantees for.

    Scale shape: the (doc, print) posting list is the winnowed ~2/(w+1)
    subsample, NOT all grams; prints hot in > WIN_DF_CAP docs are dropped
    before the self-join (the boilerplate/stop-gram rule), so the pair
    blowup is capped at df²/2 per print — postings equi-join + one pair
    aggregate, nothing corpus×corpus. [extension]"""
    fps = (
        winnowing_fingerprints(spark, sf_dir)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    # df cap via ONE count window keyed on the print (r14): the former
    # groupBy(fp_hash)-count + join-back pair computed the winnowing
    # pipeline once per subplan side and shuffled the posting list twice;
    # the window form computes it once, and its (fp_hash) exchange is
    # exactly the partitioning the candidate self-join below needs, so the
    # cap costs no extra pass at any scale. Same rows out: postings whose
    # print appears in ≤ WIN_DF_CAP docs.
    wdf = Window.partitionBy("fp_hash")
    posts = (
        fps.withColumn("df", F.count("*").over(wdf))
        .filter(F.col("df") <= WIN_DF_CAP)
        .select("doc_id", "fp_hash")
    )
    a, b = posts.alias("a"), posts.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
    )


def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation rollup — the table a corpus owner reads before
    deciding mixture weights: doc count, exact-duplicate count (corpus-wide
    md5 dedup, charged to the source of the NON-survivor), token mass, and
    mean quality (integer micro-units, exact mean via rational round-half-up
    → one shared /10^6 divide).

    Scale: quality/tokens/hash are all computed in the scan projection, so
    the only exchange carries (hash, ids, ints) — text never shuffles, the
    same no-text-exchange contract as corpus_clean."""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_exprs()
    base = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        q["quality_micro"].alias("micro"),
        q["n_tokens"].cast("long").alias("toks"),
    )
    keeper = F.min("doc_id").over(Window.partitionBy("h"))
    marked = base.select(
        "source", "micro", "toks",
        (F.col("doc_id") != keeper).cast("long").alias("is_dup"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").alias("n_dup_docs"),
        F.sum("toks").alias("total_tokens"),
        (
            _round_div_micro(F.sum("micro"), F.count(F.lit(1)))
            / 1000000.0
        ).alias("mean_quality"),
    )


# greatest k with 2^k <= n, as pure integer CASE text valid in BOTH engines
# (floor(log2(n)) is a cross-engine float trap the playbook bans)
_LOG2_BUCKET_SQL = (
    "CASE "
    + " ".join(f"WHEN n >= {1 << k} THEN {k}" for k in range(20, -1, -1))
    + " ELSE 0 END"
)


def corpus_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution: docs bucketed by power-of-two
    whitespace-token count — the histogram that sizes context-length /
    packing decisions (how much of the corpus fits 2^k-token windows).
    Buckets are exact integer compares, not floor(log2): map-side bucket
    assignment, one tiny aggregate, 21 output rows max at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(_tok()).cast("long")
    b = docs.select(n.alias("n")).selectExpr(
        "n", f"{_LOG2_BUCKET_SQL} AS bucket"
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
        )
        .select(
            "bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket)").alias("bucket_lo"),
            "n_docs", "total_tokens", "min_tokens", "max_tokens",
        )
    )


QUERIES = {
    "source_quality_report": source_quality_report,
    "corpus_token_histogram": corpus_token_histogram,
    "lang_id_scores": lang_id_scores,
    "quality_scores": quality_scores,
    "token_counts": token_counts,
    "doc_fingerprints": doc_fingerprints,
    "rare_token_ratio": rare_token_ratio,
    "repetition_stats": repetition_stats,
    "pii_redaction": pii_redaction,
    "vocab_frequency_spectrum": vocab_frequency_spectrum,
    "salient_terms_topk": salient_terms_topk,
    "feature_hash_counts": feature_hash_counts,
    "vocab_oov_rate": vocab_oov_rate,
    "lm_perplexity_bits": lm_perplexity_bits,
    "lm_perplexity_buckets": lm_perplexity_buckets,
    "lm_ccnet_buckets_sampled": lm_ccnet_buckets_sampled,
    "dsir_importance_bits": dsir_importance_bits,
    "winnowing_fingerprints": winnowing_fingerprints,
    "winnowing_dup_candidates": winnowing_dup_candidates,
}

# 16-bit value of the first 4 hex digits of md5(tok), by pure string/integer
# ops (same idiom as the simhash oracle — no engine-specific hex casts)
_HEX16_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substring(md5(tok), {d + 1}, 1)) - 1)"
    f" * {16 ** (3 - d)}"
    for d in range(4)
)

_MARK = {
    lang: "', '".join(words) for lang, words in LANG_MARKERS.items()
}
_STOP_SQL = "', '".join(STOPWORDS)

# DuckDB twin of quality_exprs' integer micro-unit score, over columns
# n (token count), stop (stopword count), c (chars minus spaces) — all BIGINT.
# Kept as a shared fragment so corpus.py's pipeline oracle can't diverge.
QUALITY_MICRO_SQL = (
    "((2 * (least(500000, 2500 * n) * 8 * n"
    " + 2400000 * (n - stop)"
    " + least(1600000 * n, 200000 * c))"
    " + 8 * n) // (16 * n))"
)

ORACLE = {
    "source_quality_report": f"""
WITH t AS (
  SELECT doc_id, source, md5(text) AS h,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT) AS c,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ('{_STOP_SQL}'))) AS BIGINT) AS stop
  FROM documents
),
m AS (
  SELECT source, n AS toks,
         CASE WHEN n < 10 THEN 0 ELSE {QUALITY_MICRO_SQL} END AS micro,
         CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY h)
              THEN 1 ELSE 0 END AS is_dup
  FROM t
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       ((2 * CAST(sum(micro) AS BIGINT) + count(*)) // (2 * count(*)))
         / 1000000.0 AS mean_quality
FROM m GROUP BY source
""",
    "corpus_token_histogram": f"""
WITH d AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
),
b AS (SELECT n, {_LOG2_BUCKET_SQL} AS bucket FROM d)
SELECT bucket,
       (CAST(1 AS BIGINT) << bucket) AS bucket_lo,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       min(n) AS min_tokens,
       max(n) AS max_tokens
FROM b GROUP BY 1
""",
    "lang_id_scores": f"""
WITH scored AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), t -> t IN ('{_MARK["en"]}'))) AS score_en,
         len(list_filter(string_split(text, ' '), t -> t IN ('{_MARK["es"]}'))) AS score_es,
         len(list_filter(string_split(text, ' '), t -> t IN ('{_MARK["de"]}'))) AS score_de
  FROM documents
)
SELECT doc_id, lang,
       CAST(score_en AS INTEGER) AS score_en,
       CAST(score_es AS INTEGER) AS score_es,
       CAST(score_de AS INTEGER) AS score_de,
       CASE WHEN score_de >= score_en AND score_de >= score_es THEN 'de'
            WHEN score_en >= score_es THEN 'en'
            ELSE 'es' END AS detected_lang
FROM scored
""",
    "quality_scores": f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         length(text) AS n_chars_actual,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT) AS c,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ('{_STOP_SQL}'))) AS BIGINT) AS stop
  FROM documents
)
SELECT doc_id, n_tokens, n_chars_actual,
       ((2 * 1000000 * c + n) // (2 * n)) / 1000000.0 AS avg_token_len,
       ((2 * 1000000 * stop + n) // (2 * n)) / 1000000.0 AS stopword_ratio,
       CASE WHEN n_tokens < 10 THEN 0.0
            ELSE {QUALITY_MICRO_SQL} / 1000000.0
       END AS quality_score
FROM t
""",
    "token_counts": """
WITH per_doc AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS ws_tokens,
         len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens
  FROM documents
)
SELECT source, n_docs,
       CAST(total_ws_tokens AS BIGINT) AS total_ws_tokens,
       CAST(total_bpe_tokens AS BIGINT) AS total_bpe_tokens,
       CAST((2 * 1000000 * total_bpe_tokens + n_docs) // (2 * n_docs)
            AS BIGINT) AS avg_bpe_micro
FROM (
  SELECT source, count(*) AS n_docs,
         sum(ws_tokens) AS total_ws_tokens,
         sum(bpe_tokens) AS total_bpe_tokens
  FROM per_doc GROUP BY source
)
""",
    "doc_fingerprints": f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
                          t -> CAST(ascii(t) + length(t) * 7 AS BIGINT))),
         (acc, v) -> (acc * {FP_BASE} + v) % {FP_MOD}
       ) AS fingerprint
FROM documents
""",
    "rare_token_ratio": f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS tok_freq FROM toks GROUP BY tok
), rare AS (
  SELECT tok FROM vocab ORDER BY tok_freq ASC, tok ASC LIMIT {N_RARE_TOKENS}
), agg AS (
  SELECT doc_id, count(*) AS n_tokens,
         CAST(sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rare
  FROM toks t LEFT JOIN rare r USING (tok)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_rare,
       CAST((2 * 1000000 * n_rare + n_tokens) // (2 * n_tokens) AS BIGINT)
         AS rare_ratio_micro
FROM agg
""",
    "repetition_stats": """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS l,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
  FROM documents
), toks AS (
  SELECT doc_id, unnest(list_transform(l, (x, i) -> {tok: x, pos: i})) AS u
  FROM base
), runs AS (
  SELECT doc_id, u.tok AS tok,
         u.pos - row_number() OVER (PARTITION BY doc_id, u.tok ORDER BY u.pos)
           AS grp
  FROM toks
), islands AS (
  SELECT doc_id, count(*) AS run_len FROM runs GROUP BY doc_id, tok, grp
), mr AS (
  SELECT doc_id, max(run_len) AS max_token_run FROM islands GROUP BY doc_id
), bi AS (
  SELECT doc_id, n_tokens, nd,
    CASE WHEN n_tokens >= 2
      THEN CAST(len(list_distinct(list_transform(
             l[1:n_tokens-1], (x, i) -> x || ' ' || l[i+1]))) AS BIGINT)
      ELSE CAST(0 AS BIGINT) END AS n_bi_distinct
  FROM base
)
SELECT b.doc_id, b.n_tokens,
       nd / b.n_tokens AS distinct_ratio,
       CASE WHEN b.n_tokens >= 2
         THEN (b.n_tokens - 1 - n_bi_distinct) / (b.n_tokens - 1)
         ELSE 0.0 END AS dup_bigram_ratio,
       mr.max_token_run
FROM bi b JOIN mr USING (doc_id)
""",
    "pii_redaction": r"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +1-555-'
              || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS injected
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(injected,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(injected,
            '\+1-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
       md5(regexp_replace(
             regexp_replace(injected,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
FROM inj
""",
    "vocab_frequency_spectrum": """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS tok_freq FROM toks GROUP BY tok
)
SELECT tok_freq, count(*) AS n_types,
       CAST(sum(tok_freq) AS BIGINT) AS token_mass
FROM vocab GROUP BY tok_freq
""",
}
ORACLE["salient_terms_topk"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
), df AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
), scored AS (
  SELECT t.doc_id, t.tok, t.tf, d.df,
         CAST(t.tf AS DOUBLE) / d.df AS salience
  FROM tf t JOIN df d USING (tok)
)
SELECT doc_id, tok, tf, df, salience, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY salience DESC, tok
  ) AS rank
  FROM scored
)
WHERE rank <= {SALIENT_TOP_K}
"""

ORACLE["feature_hash_counts"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT doc_id,
       CAST(({_HEX16_SQL}) % {N_FEATURE_BUCKETS} AS INTEGER) AS bucket,
       count(*) AS n_tokens
FROM toks
GROUP BY doc_id, bucket
"""

ORACLE["lm_perplexity_bits"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS freq FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(sum(freq) AS BIGINT) AS total_toks FROM vocab
), bits_tbl AS (
  SELECT tok, length(bin(total_toks // freq)) - 1 AS bits
  FROM vocab, tot
), per_doc AS (
  SELECT doc_id, count(*) AS n_tokens, CAST(sum(bits) AS BIGINT) AS sum_bits
  FROM toks JOIN bits_tbl USING (tok) GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_bits,
       ((2 * sum_bits * 1000000 + n_tokens) // (2 * n_tokens)) / 1000000.0
         AS mean_bits
FROM per_doc
"""

ORACLE["lm_perplexity_buckets"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS freq FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(sum(freq) AS BIGINT) AS total_toks FROM vocab
), bits_tbl AS (
  SELECT tok, length(bin(total_toks // freq)) - 1 AS bits
  FROM vocab, tot
), per_doc AS (
  SELECT doc_id, count(*) AS n_tokens, CAST(sum(bits) AS BIGINT) AS sum_bits
  FROM toks JOIN bits_tbl USING (tok) GROUP BY doc_id
), scored AS (
  SELECT doc_id,
         (2 * sum_bits * 1000000 + n_tokens) // (2 * n_tokens)
           AS mean_bits_micro
  FROM per_doc
)
SELECT doc_id, mean_bits_micro,
       CAST(ntile(3) OVER (ORDER BY mean_bits_micro, doc_id) AS INTEGER)
         AS tercile,
       CASE ntile(3) OVER (ORDER BY mean_bits_micro, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ccnet_bucket
FROM scored
"""

ORACLE["lm_ccnet_buckets_sampled"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS freq FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(sum(freq) AS BIGINT) AS total_toks FROM vocab
), bits_tbl AS (
  SELECT tok, length(bin(total_toks // freq)) - 1 AS bits
  FROM vocab, tot
), per_doc AS (
  SELECT doc_id, count(*) AS n_tokens, CAST(sum(bits) AS BIGINT) AS sum_bits
  FROM toks JOIN bits_tbl USING (tok) GROUP BY doc_id
), keyed AS (
  SELECT doc_id,
         (2 * sum_bits * 1000000 + n_tokens) // (2 * n_tokens)
           AS mean_bits_micro,
         lpad(CAST((2 * sum_bits * 1000000 + n_tokens) // (2 * n_tokens)
                   AS VARCHAR), 12, '0')
           || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS k
  FROM per_doc
), cuts AS (
  SELECT ks[CAST(ceil(len(ks) / 3) AS BIGINT)] AS c1,
         ks[CAST(ceil(2 * len(ks) / 3) AS BIGINT)] AS c2
  FROM (SELECT list_sort(list(k)) AS ks FROM keyed
        WHERE doc_id % {CCNET_SAMPLE_MOD} = 0)
)
SELECT doc_id, mean_bits_micro,
       CASE WHEN k <= c1 THEN 'head'
            WHEN k <= c2 THEN 'middle'
            ELSE 'tail' END AS ccnet_bucket
FROM keyed, cuts
"""

ORACLE["dsir_importance_bits"] = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(({_HEX16_SQL}) % {N_FEATURE_BUCKETS} AS INTEGER) AS bucket
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
), raw AS (
  SELECT bucket, count(*) AS cnt_r FROM toks GROUP BY bucket
), tgt AS (
  SELECT bucket, count(*) AS cnt_t FROM toks
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
), stats AS (
  SELECT bucket, cnt_r, coalesce(cnt_t, 0) AS cnt_t
  FROM raw LEFT JOIN tgt USING (bucket)
), tot AS (
  SELECT CAST(sum(cnt_r) AS BIGINT) AS total_r,
         CAST(sum(cnt_t) AS BIGINT) AS total_t
  FROM stats
), bucket_bits AS (
  SELECT bucket,
         (length(bin((total_r + {N_FEATURE_BUCKETS}) // (cnt_r + 1))) - 1)
       - (length(bin((total_t + {N_FEATURE_BUCKETS}) // (cnt_t + 1))) - 1)
           AS bit_gain
  FROM stats, tot
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(bit_gain) AS BIGINT) AS dsir_bits,
       CAST(CAST(sum(bit_gain) AS BIGINT) >= 0 AS INTEGER) AS target_like
FROM toks JOIN bucket_bits USING (bucket)
GROUP BY doc_id
"""

ORACLE["vocab_oov_rate"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS freq FROM toks GROUP BY tok
  ) ORDER BY freq DESC, tok LIMIT {VOCAB_SIZE}
), flagged AS (
  SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v USING (tok)
)
SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST(sum(oov) AS DOUBLE) / count(*) AS oov_rate
FROM flagged GROUP BY doc_id
"""


K_ANON = 5  # equivalence classes smaller than this are re-id risks
CHARS_BUCKET = 10  # n_chars quasi-identifier granularity


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the document catalog's quasi-identifiers
    (lang, source, bucketed length) — the privacy screen a training-data
    release runs before publishing metadata: any equivalence class with
    fewer than K_ANON members re-identifies its documents. Emits the
    violating classes with their size and per-class risk docs share in
    round-half-up micros.

    Scale shape: bucketing is map-side; ONE aggregate over the class key
    (cardinality ≤ |langs|·|sources|·|buckets|, tiny); the corpus total
    is a 1-row broadcast back onto the class table. [extension]"""
    docs = load_table(spark, sf_dir, "documents")
    classes = docs.groupBy(
        "lang",
        "source",
        F.expr(f"n_chars div {CHARS_BUCKET}").alias("len_bucket"),
    ).agg(F.count("*").alias("class_size"))
    totals = classes.agg(F.sum("class_size").alias("t"))
    share = F.expr("(2 * class_size * 1000000 + t) div (2 * t)")
    return (
        classes.filter(F.col("class_size") < K_ANON)
        .crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "source",
            "len_bucket",
            "class_size",
            share.alias("share_micro"),
        )
    )


QUERIES["k_anonymity_audit"] = k_anonymity_audit

ORACLE["k_anonymity_audit"] = f"""
WITH classes AS (
  SELECT lang, source, n_chars // {CHARS_BUCKET} AS len_bucket,
         count(*) AS class_size
  FROM documents GROUP BY 1, 2, 3
), totals AS (SELECT CAST(sum(class_size) AS BIGINT) AS t FROM classes)
SELECT lang, source, len_bucket, class_size,
       (2 * class_size * 1000000 + t) // (2 * t) AS share_micro
FROM classes, totals
WHERE class_size < {K_ANON}
"""


DEFLATE_LEVEL = 6  # fixed level → deterministic output for a given zlib


def compression_ratio_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE compression ratio per document — the Gopher/RefinedWeb
    quality signal SQL can't express (boilerplate and template spam
    compress far below natural prose): deflate_bytes / raw_bytes, smaller
    = more redundant. Arrow-batched pandas_udf (never row-at-a-time);
    zlib at a FIXED level is deterministic for a given library, but no
    SQL engine can replay DEFLATE, so this is a rows-only query by cause
    — the estimator properties (ratio bounds, redundancy ordering) are
    pinned in tests/test_properties.py instead.

    Scale shape: pure map-side Arrow batches over (doc_id, text); no
    shuffle at all — at 100 TB this is a single pass bounded by
    decompression-grade CPU, exactly how production quality scorers run.
    [extension]"""
    import pandas as pd  # noqa: F401 — resolves the udf type hints
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def deflate_len(s):
        import zlib

        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), DEFLATE_LEVEL))
        )

    docs = load_table(spark, sf_dir, "documents")
    raw = F.octet_length("text")
    return docs.select(
        "doc_id",
        "source",
        raw.alias("raw_bytes"),
        deflate_len("text").alias("deflate_bytes"),
    ).withColumn(
        "ratio_micro",
        F.expr("(2 * deflate_bytes * 1000000 + raw_bytes) div (2 * raw_bytes)"),
    )


QUERIES["compression_ratio_scores"] = compression_ratio_scores


# --- Gopher-style rule bundle (Rae et al. 2021, Table A1) --------------------
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_TOK = 3  # mean token length bounds (chars)
GOPHER_MAX_MEAN_TOK = 10


def _gopher_flag_cols() -> dict[str, "F.Column"]:
    """The Gopher rule bundle's column expressions over a `text` column —
    the single source of truth shared by gopher_quality_flags and
    quality_calibration_buckets (same non-divergence rule as
    quality_exprs).

    Every ratio rule is an INTEGER CROSS-MULTIPLICATION, never a
    division: symbol_ratio > 1/10 is `10·n_sym > n_chars`, the mean-token
    band is `3·n ≤ c ≤ 10·n` — zero floats anywhere, so the oracle is
    trivially bit-portable (playbook rules 1/11 by construction)."""
    toks = _tok()
    n = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    c = n_chars - (n - 1)  # chars minus separators
    n_sym = F.length(
        F.regexp_replace(F.col("text"), r"[a-z0-9 ]", "")
    ).cast("long")
    n_digit = (
        n_chars - F.length(F.regexp_replace(F.col("text"), r"[0-9]", ""))
    ).cast("long")
    # interpreted HOF: cost is per-element × |STOPWORDS| — acceptable ONLY
    # because |STOPWORDS| = 4 here; a real (hundreds-word) stopword list
    # must use the explode → broadcast-join shape instead (the 165× lesson
    # from boilerplate_ngrams in PERFORMANCE.md)
    n_stop = _count_in(STOPWORDS).cast("long")
    too_short = (n < GOPHER_MIN_TOKENS).cast("int")
    too_long = (n > GOPHER_MAX_TOKENS).cast("int")
    bad_mean_tok = (
        (c < GOPHER_MIN_MEAN_TOK * n) | (c > GOPHER_MAX_MEAN_TOK * n)
    ).cast("int")
    symbol_heavy = (10 * n_sym > n_chars).cast("int")
    digit_heavy = (5 * n_digit > n_chars).cast("int")
    no_stopword = (n_stop == 0).cast("int")
    flags_sum = (
        too_short + too_long + bad_mean_tok + symbol_heavy + digit_heavy
        + no_stopword
    )
    return {
        "n_tokens": n,
        "too_short": too_short,
        "too_long": too_long,
        "bad_mean_tok_len": bad_mean_tok,
        "symbol_heavy": symbol_heavy,
        "digit_heavy": digit_heavy,
        "no_stopword": no_stopword,
        "keep": (flags_sum == 0).cast("int"),
    }


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule bundle as one map-side pass: per doc, each rule's
    boolean flag plus the keep decision — the canonical heuristic filter
    set (doc length bounds, mean-token-length band, symbol and digit
    ratios, stopword floor) that real curation stacks run before any
    model-based scoring. Zero shuffle: pure per-row expressions
    (_gopher_flag_cols) folded into the scan stage."""
    docs = load_table(spark, sf_dir, "documents")
    g = _gopher_flag_cols()
    return docs.select(
        "doc_id",
        g["n_tokens"].alias("n_tokens"),
        g["too_short"].alias("too_short"),
        g["too_long"].alias("too_long"),
        g["bad_mean_tok_len"].alias("bad_mean_tok_len"),
        g["symbol_heavy"].alias("symbol_heavy"),
        g["digit_heavy"].alias("digit_heavy"),
        g["no_stopword"].alias("no_stopword"),
        g["keep"].alias("keep"),
    )


QUERIES["gopher_quality_flags"] = gopher_quality_flags

ORACLE["gopher_quality_flags"] = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT)
           AS c,
         CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT)
           AS n_sym,
         CAST(length(text)
              - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
           AS n_digit,
         CAST(len(list_filter(string_split(text, ' '),
                  tok -> tok IN ('{_STOP_SQL}'))) AS BIGINT) AS n_stop
  FROM documents
), f AS (
  SELECT doc_id, n,
         CAST(n < {GOPHER_MIN_TOKENS} AS INTEGER) AS too_short,
         CAST(n > {GOPHER_MAX_TOKENS} AS INTEGER) AS too_long,
         CAST(c < {GOPHER_MIN_MEAN_TOK} * n
              OR c > {GOPHER_MAX_MEAN_TOK} * n AS INTEGER)
           AS bad_mean_tok_len,
         CAST(10 * n_sym > n_chars AS INTEGER) AS symbol_heavy,
         CAST(5 * n_digit > n_chars AS INTEGER) AS digit_heavy,
         CAST(n_stop = 0 AS INTEGER) AS no_stopword
  FROM t
)
SELECT doc_id, n AS n_tokens,
       too_short, too_long, bad_mean_tok_len, symbol_heavy, digit_heavy,
       no_stopword,
       CAST(too_short + too_long + bad_mean_tok_len + symbol_heavy
            + digit_heavy + no_stopword = 0 AS INTEGER) AS keep
FROM f
"""


# --- quality-score calibration (reliability buckets / ECE shape) -------------
CALIB_BUCKETS = 10


def quality_calibration_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram / expected-calibration-error buckets for the
    heuristic quality score, scored against the Gopher keep decision —
    the evaluation every model- or heuristic-based quality filter needs
    before its threshold is trusted on a full crawl: bucket documents by
    predicted quality (deciles of the micro score), then compare each
    bucket's mean prediction with its empirical keep rate. |gap| per
    bucket is the reliability-diagram deviation; the n-weighted sum over
    buckets is ECE.

    All arithmetic is integer-rational (micro units, round-half-up via
    the shared cross-multiplication idiom), reusing quality_exprs() and
    _gopher_flag_cols() verbatim so this query cannot diverge from the
    proven scorer/filter pair.

    Scale shape: one map-side pass computing both expression bundles in
    the scan stage, then a single ≤CALIB_BUCKETS-group hash aggregate —
    the partial aggregates collapse each partition to ≤10 rows before the
    one exchange. At 100 TB this is scan-bound, exactly like
    gopher_quality_flags. [extension]"""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_exprs()
    g = _gopher_flag_cols()
    base = docs.select(
        q["quality_micro"].alias("micro"),
        g["keep"].cast("long").alias("keep"),
    )
    bucket = F.least(
        F.lit(CALIB_BUCKETS - 1),
        F.expr(f"micro DIV {1_000_000 // CALIB_BUCKETS}"),
    ).cast("int")
    agg = (
        base.select(bucket.alias("bucket"), "micro", "keep")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("micro").alias("sum_micro"),
            F.sum("keep").alias("n_keep"),
        )
    )
    avg_pred = F.expr("(2 * sum_micro + n_docs) DIV (2 * n_docs)")
    keep_rate = F.expr("(2 * 1000000 * n_keep + n_docs) DIV (2 * n_docs)")
    return agg.select(
        "bucket",
        "n_docs",
        avg_pred.alias("avg_pred_micro"),
        keep_rate.alias("keep_rate_micro"),
        F.abs(avg_pred - keep_rate).alias("gap_micro"),
    )


QUERIES["quality_calibration_buckets"] = quality_calibration_buckets

ORACLE["quality_calibration_buckets"] = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT)
           AS c,
         CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT)
           AS n_sym,
         CAST(length(text)
              - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
           AS n_digit,
         CAST(len(list_filter(string_split(text, ' '),
                  tok -> tok IN ('{_STOP_SQL}'))) AS BIGINT) AS stop
  FROM documents
), scored AS (
  SELECT CASE WHEN n < 10 THEN 0 ELSE {QUALITY_MICRO_SQL} END AS micro,
         CAST(n < {GOPHER_MIN_TOKENS} AS BIGINT)
           + CAST(n > {GOPHER_MAX_TOKENS} AS BIGINT)
           + CAST(c < {GOPHER_MIN_MEAN_TOK} * n
                  OR c > {GOPHER_MAX_MEAN_TOK} * n AS BIGINT)
           + CAST(10 * n_sym > n_chars AS BIGINT)
           + CAST(5 * n_digit > n_chars AS BIGINT)
           + CAST(stop = 0 AS BIGINT) AS flags
  FROM t
), b AS (
  SELECT CAST(least({CALIB_BUCKETS - 1},
                    micro // {1_000_000 // CALIB_BUCKETS}) AS INTEGER)
           AS bucket,
         micro,
         CAST(flags = 0 AS BIGINT) AS keep
  FROM scored
), agg AS (
  SELECT bucket, count(*) AS n_docs,
         CAST(sum(micro) AS BIGINT) AS sum_micro,
         CAST(sum(keep) AS BIGINT) AS n_keep
  FROM b GROUP BY bucket
)
SELECT bucket, n_docs,
       (2 * sum_micro + n_docs) // (2 * n_docs) AS avg_pred_micro,
       (2 * 1000000 * n_keep + n_docs) // (2 * n_docs) AS keep_rate_micro,
       abs((2 * sum_micro + n_docs) // (2 * n_docs)
           - (2 * 1000000 * n_keep + n_docs) // (2 * n_docs)) AS gap_micro
FROM agg
"""


# --- corpus-induced stopword density (the scale-right stopword shape) --------
N_INDUCED_STOPWORDS = 20


def induced_stopword_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword induction + per-doc density: the top
    N_INDUCED_STOPWORDS tokens by corpus frequency ARE the stopword list
    (the classic data-driven alternative to a hand list), and each doc's
    density is stop-token occurrences / tokens in integer micros.

    This is the explode → broadcast-join shape the gopher_quality_flags
    comment defers to: a membership test against a REAL-sized stopword
    list must never run as an interpreted per-element HOF (cost ∝
    |list|·|tokens|, the 165× boilerplate_ngrams lesson) — instead the
    token stream explodes once in the scan stage, the induced list is a
    TakeOrderedAndProject over one token aggregate (ties at the cut break
    on the token string, deterministic), and counting is a broadcast
    equi-join + per-doc fold. Two passes over the token stream (induce,
    then count) — at 100 TB the induced list would be staged as a table
    and the second pass is the only one per scoring run. [extension]"""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(N_INDUCED_STOPWORDS)
        .select("tok")
    )
    hits = (
        toks.join(F.broadcast(top), "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_stop"))
    )
    base = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    n_stop = F.coalesce("n_stop", F.lit(0).cast("long"))
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        n_stop.alias("n_stop"),
        _round_div_micro(1_000_000 * n_stop, F.col("n_tokens"))
        .cast("long")
        .alias("density_micro"),
    )


QUERIES["induced_stopword_density"] = induced_stopword_density

ORACLE["induced_stopword_density"] = f"""
WITH stoks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), stop AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rn
    FROM stoks GROUP BY tok
  ) WHERE rn <= {N_INDUCED_STOPWORDS}
), shits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_stop
  FROM stoks JOIN stop USING (tok) GROUP BY doc_id
), sbase AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
       CAST(coalesce(h.n_stop, 0) AS BIGINT) AS n_stop,
       (2 * 1000000 * CAST(coalesce(h.n_stop, 0) AS BIGINT) + b.n_tokens)
         // (2 * b.n_tokens) AS density_micro
FROM sbase b LEFT JOIN shits h USING (doc_id)
"""

ORACLE["winnowing_fingerprints"] = f"""
WITH wbase AS (
  SELECT doc_id, string_split(text, ' ') AS l,
         len(string_split(text, ' ')) AS n
  FROM documents
), wgrams AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(l[i:i + {WIN_K} - 1],
                            t -> CAST(ascii(t) + length(t) * 7 AS BIGINT))),
           (acc, v) -> (acc * {FP_BASE} + v) % {FP_MOD}
         ) AS h
  FROM wbase, unnest(generate_series(1, n - {WIN_K} + 1)) AS t(i)
  WHERE n >= {WIN_K}
), wsel AS (
  SELECT doc_id,
         min(h * {_WIN_PACK} + ({_WIN_PACK} - pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WIN_W} - 1 FOLLOWING) AS m,
         count(*)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WIN_W} - 1 FOLLOWING) AS c
  FROM wgrams
)
SELECT DISTINCT doc_id,
       CAST({_WIN_PACK} - (m % {_WIN_PACK}) AS INTEGER) AS sel_pos,
       m // {_WIN_PACK} AS fp_hash
FROM wsel WHERE c = {WIN_W}
"""

ORACLE["winnowing_dup_candidates"] = f"""
WITH wbase AS (
  SELECT doc_id, string_split(text, ' ') AS l,
         len(string_split(text, ' ')) AS n
  FROM documents
), wgrams AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(l[i:i + {WIN_K} - 1],
                            t -> CAST(ascii(t) + length(t) * 7 AS BIGINT))),
           (acc, v) -> (acc * {FP_BASE} + v) % {FP_MOD}
         ) AS h
  FROM wbase, unnest(generate_series(1, n - {WIN_K} + 1)) AS t(i)
  WHERE n >= {WIN_K}
), wsel AS (
  SELECT doc_id,
         min(h * {_WIN_PACK} + ({_WIN_PACK} - pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WIN_W} - 1 FOLLOWING) AS m,
         count(*)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WIN_W} - 1 FOLLOWING) AS c
  FROM wgrams
), wfps AS (
  SELECT DISTINCT doc_id, m // {_WIN_PACK} AS fp_hash
  FROM wsel WHERE c = {WIN_W}
), wrare AS (
  SELECT fp_hash FROM wfps GROUP BY fp_hash
  HAVING count(*) <= {WIN_DF_CAP}
), wposts AS (
  SELECT doc_id, fp_hash FROM wfps JOIN wrare USING (fp_hash)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM wposts a JOIN wposts b
  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WIN_MIN_SHARED}
"""

COVERAGE_KS = (8, 32, 128, 512)  # vocab sizes on the coverage curve


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing curve: for each candidate vocab size K, the share
    of all corpus tokens covered by the top-K vocabulary (freq DESC, tok
    ASC ties) — the plot that decides how large a vocab is worth
    training (vocab_oov_rate is the per-doc view at one fixed V; this is
    the corpus-level curve across V). Coverage in integer micro units.

    Shape: one word-count aggregate (the vocab relation), ONE rank
    window over that |vocab|-sized table (not the corpus), and a single
    conditional aggregation emits every K in one pass. [extension]"""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tok()).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    ranked = vocab.withColumn("rn", F.row_number().over(w))
    per_k = ranked.agg(
        F.sum("freq").alias("total_tokens"),
        *[
            F.sum(F.when(F.col("rn") <= k, F.col("freq")).otherwise(0))
            .alias(f"cov_{k}")
            for k in COVERAGE_KS
        ],
    )
    rows = [
        per_k.select(
            F.lit(k).alias("vocab_k"),
            F.col(f"cov_{k}").alias("covered_tokens"),
            "total_tokens",
            F.expr(
                f"(2 * cov_{k} * 1000000 + total_tokens)"
                " DIV (2 * total_tokens)"
            ).alias("coverage_micro"),
        )
        for k in COVERAGE_KS
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


QUERIES["vocab_coverage_curve"] = vocab_coverage_curve

_COV_ARM_SQL = """
SELECT {k} AS vocab_k, cov_{k} AS covered_tokens, total_tokens,
       (2 * cov_{k} * 1000000 + total_tokens) // (2 * total_tokens)
         AS coverage_micro
FROM perk
"""

ORACLE["vocab_coverage_curve"] = f"""
WITH vtoks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), vvocab AS (
  SELECT tok, count(*) AS freq FROM vtoks GROUP BY tok
), vranked AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, tok ASC) AS rn
  FROM vvocab
), perk AS (
  SELECT CAST(sum(freq) AS BIGINT) AS total_tokens,
         {", ".join(
             f"CAST(sum(CASE WHEN rn <= {k} THEN freq ELSE 0 END) AS BIGINT)"
             f" AS cov_{k}" for k in COVERAGE_KS)}
  FROM vranked
)
{" UNION ALL ".join(_COV_ARM_SQL.format(k=k) for k in COVERAGE_KS)}
"""


def char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source: total chars and the
    alpha / digit / space / other fractions in round-half-up micros —
    the first-glance corpus profile that catches a source gone binary,
    a scraped table dump (digit-heavy), or whitespace-mangled text
    before any tokenizer runs. Class counts come from
    length(regexp_replace(text, class, '')) differences — pure map-side
    expressions in the RE2∩Java-portable regex subset; one |sources|-row
    hash aggregate. [extension]"""
    docs = load_table(spark, sf_dir, "documents")
    total = F.length("text").cast("long")
    alpha = (
        total - F.length(F.regexp_replace(F.col("text"), "[a-z]", ""))
    ).cast("long")
    digit = (
        total - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
    ).cast("long")
    space = (
        total - F.length(F.regexp_replace(F.col("text"), " ", ""))
    ).cast("long")
    per = docs.select(
        "source",
        total.alias("t"),
        alpha.alias("a"),
        digit.alias("d"),
        space.alias("s"),
    )

    def frac(col: str) -> F.Column:
        return F.expr(
            f"(2 * 1000000 * sum({col}) + sum(t)) DIV (2 * sum(t))"
        )

    return per.groupBy("source").agg(
        F.sum("t").alias("total_chars"),
        frac("a").alias("alpha_micro"),
        frac("d").alias("digit_micro"),
        frac("s").alias("space_micro"),
        F.expr(
            "(2 * 1000000 * (sum(t) - sum(a) - sum(d) - sum(s)) + sum(t))"
            " DIV (2 * sum(t))"
        ).alias("other_micro"),
    )


QUERIES["char_class_profile"] = char_class_profile

ORACLE["char_class_profile"] = """
WITH per AS (
  SELECT source,
         length(text) AS t,
         length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS a,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS d,
         length(text) - length(regexp_replace(text, ' ', '', 'g')) AS s
  FROM documents
)
SELECT source,
       CAST(sum(t) AS BIGINT) AS total_chars,
       (2 * 1000000 * CAST(sum(a) AS BIGINT) + CAST(sum(t) AS BIGINT))
         // (2 * CAST(sum(t) AS BIGINT)) AS alpha_micro,
       (2 * 1000000 * CAST(sum(d) AS BIGINT) + CAST(sum(t) AS BIGINT))
         // (2 * CAST(sum(t) AS BIGINT)) AS digit_micro,
       (2 * 1000000 * CAST(sum(s) AS BIGINT) + CAST(sum(t) AS BIGINT))
         // (2 * CAST(sum(t) AS BIGINT)) AS space_micro,
       (2 * 1000000 * CAST(sum(t) - sum(a) - sum(d) - sum(s) AS BIGINT)
        + CAST(sum(t) AS BIGINT))
         // (2 * CAST(sum(t) AS BIGINT)) AS other_micro
FROM per GROUP BY source
"""
