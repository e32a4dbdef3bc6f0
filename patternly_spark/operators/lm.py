"""N-gram language-model scoring — the CCNet/KenLM-shaped quality filter
of a training-data pipeline (score each document by how surprising its
token stream is under a corpus LM; filter or bucket by the score).

The reference engine has no text-LM surface (its likelihood machinery is
the PFSA llk kernel, reference patternly/_utils.py:111-161); this is a
first-class extension from the builder brief (text analysis / quality
scoring).  The model here is a bigram LM with add-k smoothing — the same
shape KenLM-based filters use (CCNet, Gopher), minus Kneser-Ney backoff,
which needs no distributed machinery beyond what's here.

Scale shape (the whole point):
  - ONE scan of the corpus -> explode to bigrams -> ONE map-side-combined
    shuffle to (doc_id, w1, w2) counts.  The corpus-level bigram table and
    the context-marginal table are cascaded aggregations of that first
    result (each strictly smaller), not re-scans.
  - Scoring joins the per-doc DISTINCT-bigram table (not the raw token
    stream) against the count tables: join cardinality is `distinct
    bigrams per doc`, ~5-10x smaller than token count on natural text.
  - Everything is built-in column expressions; no Python in the hot path.

Cross-engine exactness: log() differs between engines in the last ulp, so
per-bigram log-probabilities are quantized to 2^-20 (floor(ln(p)*2^20)/2^20
— power-of-two scaling is exact in binary FP).  Quantized values are
dyadic rationals with 20 fractional bits, so double-precision summation is
EXACT regardless of order — the per-doc sum is reproducible across engines
and across partitionings.  See q42's idf treatment for the precedent.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from patternly_spark.plans import local_rows

__all__ = [
    "BigramLM",
    "train_bigram_lm",
    "bigram_lm_scores",
    "dsir_weights",
    "zipf_fit",
    "pmi_cooccurrence",
    "hash_bucket",
    "hashed_text_classifier",
    "fit_hashed_classifier",
]


def _pin_corpus(df: DataFrame) -> DataFrame:
    """Persist a CORPUS-SIZED relation for reuse within one operator
    call (guide §5): explicit ``MEMORY_AND_DISK`` SERIALIZED level
    instead of the default deserialized cache, so at 100 TB the per-doc
    bigram table overflows to disk gracefully instead of pressuring
    executor memory the way the round-10 graph pins did before
    DISK_ONLY.  ``SPARK_GRAFT_LM_PIN=disk`` forces DISK_ONLY (the
    zero-memory-pressure envelope used by the scale rehearsals);
    ``=deser`` restores the old default for A/B; any other value raises
    ``ValueError``.  Values are unaffected — storage level changes where
    cached bytes live, not what they are."""
    import os

    from pyspark import StorageLevel

    levels = {"ser": StorageLevel.MEMORY_AND_DISK, "disk": StorageLevel.DISK_ONLY,
              "deser": StorageLevel.MEMORY_AND_DISK_DESER}
    mode = os.environ.get("SPARK_GRAFT_LM_PIN", "ser")
    if mode not in levels:
        raise ValueError(f"SPARK_GRAFT_LM_PIN={mode!r}: expected one of {sorted(levels)}")
    return df.persist(levels[mode])


def _doc_bigrams(
    docs: DataFrame, *, id_col: str, text_col: str, keep_singles: bool = False
) -> DataFrame:
    """-> (id, w1, w2, occ): per-document bigram multiset, pre-aggregated.

    Docs with <2 tokens emit no rows (no bigram exists).  The explode is
    immediately collapsed by a map-side-combinable count, so the shuffle
    carries distinct (doc, bigram) triples, not the token stream.

    ``keep_singles=True`` additionally emits one (id, token, NULL, 1)
    sentinel row per single-token document — IN THE SAME SCAN — so a
    persisted result carries everything ``_vocab_size_from`` needs and
    the vocabulary job does not re-read the corpus (guide §2.4: remove
    the second full pass).  Callers filter ``w2 IS NOT NULL`` before
    using the rows as bigrams.
    """
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
    )
    if not keep_singles:
        exploded = toks.filter(F.size("t") >= 2).select(
            "__id",
            F.explode(
                F.expr("transform(sequence(1, size(t)-1), i -> struct(t[i-1] AS w1, t[i] AS w2))")
            ).alias("b"),
        )
    else:
        # bigram pairs for >=2-token docs; a single (tok, NULL) sentinel
        # for 1-token docs; NULL (skipped by explode) otherwise
        pairs = F.when(
            F.size("t") >= 2,
            F.expr("transform(sequence(1, size(t)-1), i -> struct(t[i-1] AS w1, t[i] AS w2))"),
        ).when(
            F.size("t") == 1,
            F.array(
                F.struct(
                    F.col("t")[0].alias("w1"),
                    F.lit(None).cast("string").alias("w2"),
                )
            ),
        )
        exploded = toks.select("__id", F.explode(pairs).alias("b"))
    return (
        exploded.select("__id", "b.w1", "b.w2")
        .groupBy("__id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("occ"))
    )


@dataclass
class BigramLM:
    """Corpus bigram counts + context marginals + vocab size.

    ``bigram_counts``: (w1, w2, cb long); ``context_counts``: (w1, cc long);
    ``vocab_size``: |V| over all tokens.  Both DataFrames are lazily
    defined — persist them (or write them out) when scoring many batches
    against one trained model.
    """

    bigram_counts: DataFrame
    context_counts: DataFrame
    vocab_size: int


def _counts_from(doc_bi: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Cascade the per-doc bigram table into corpus counts + context
    marginals — each strictly smaller (vocabulary-scale, not corpus-
    scale), so every shuffle after the first moves bounded data."""
    bigram_counts = doc_bi.groupBy("w1", "w2").agg(F.sum("occ").alias("cb"))
    context_counts = bigram_counts.groupBy("w1").agg(F.sum("cb").alias("cc"))
    return bigram_counts, context_counts


def _vocab_size(docs: DataFrame, text_col: str) -> int:
    return int(
        docs.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"))
        .agg(F.countDistinct("tok"))
        .first()[0]
    )


def _vocab_size_from(bi_all: DataFrame) -> int:
    """|V| from a ``keep_singles=True`` bigram table (per-doc or the
    corpus-level ``groupBy(w1, w2)`` census of one) instead of a second
    corpus scan: every token of a >=2-token doc appears as some w1 or
    w2, and single-token docs contribute their (tok, NULL) sentinel's
    w1 — so distinct(w1 ∪ w2) over the table IS the token vocabulary
    (countDistinct ignores the sentinel NULLs), and aggregation cannot
    drop a (w1, w2) pair, so the census carries the same token set.
    Value-identical to ``_vocab_size`` by that case split; the
    corpus-token-stream explode + distinct shuffle is replaced by a
    vocabulary-scale aggregate over an already-pinned relation."""
    toks = bi_all.select(F.col("w1").alias("tok")).unionAll(
        bi_all.select(F.col("w2").alias("tok"))
    )
    return int(toks.agg(F.countDistinct("tok")).first()[0])


def train_bigram_lm(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> BigramLM:
    """Count bigrams and context marginals over the corpus.

    The marginal c(w1) is the number of bigrams starting with w1 (the
    standard conditional-MLE denominator), derived from the bigram table
    — a second tiny aggregation, not a second corpus scan.
    """
    bigram_counts, context_counts = _counts_from(
        _doc_bigrams(docs, id_col=id_col, text_col=text_col)
    )
    return BigramLM(bigram_counts, context_counts, _vocab_size(docs, text_col))


def _quantized_logp(cb: Column, cc: Column, k: float, vocab_size: int, bits: int) -> Column:
    # P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k|V|), add-k smoothed; ln then
    # floor-quantized to 2^-bits so both engines agree bit-for-bit
    scale = float(2**bits)
    p = (cb + F.lit(float(k))) / (cc + F.lit(float(k)) * F.lit(float(vocab_size)))
    return F.floor(F.log(p) * F.lit(scale)) / F.lit(scale)


def bigram_lm_scores(
    docs: DataFrame,
    lm: BigramLM | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    quant_bits: int = 20,
) -> DataFrame:
    """-> (id_col, n_bigrams, avg_nll): per-document average negative
    log-likelihood in nats under the bigram LM (lower = more typical of
    the corpus; a quality filter drops the top tail).

    ``lm=None`` trains on ``docs`` itself (the self-perplexity filter of
    CCNet).  Unseen bigrams/contexts (scoring fresh docs against a
    trained model) back off to the smoothed floor via coalesce(·, 0).

    Perplexity is exp(avg_nll); exp() is last-ulp engine-dependent, so the
    operator reports nats and leaves exponentiation to the consumer.
    """
    self_scoring = lm is None
    if self_scoring:
        # self-scoring: the count cascade AND the scoring probe both read
        # the per-doc bigram table, so persist it once — without this the
        # corpus-scale scan+explode+shuffle executes twice.  keep_singles
        # cascades single-token docs through the corpus-level census, so
        # the vocabulary readout is a vocabulary-scale aggregate over the
        # (persisted) census — whose action materializes both pins — and
        # the whole train+score path scans the corpus exactly ONCE
        doc_bi_all = _pin_corpus(
            _doc_bigrams(docs, id_col=id_col, text_col=text_col, keep_singles=True)
        )
        doc_bi = doc_bi_all.filter(F.col("w2").isNotNull())
        bi_census = _pin_corpus(
            doc_bi_all.groupBy("w1", "w2").agg(F.sum("occ").alias("cb"))
        )
        bigram_counts = bi_census.filter(F.col("w2").isNotNull())
        context_counts = bigram_counts.groupBy("w1").agg(F.sum("cb").alias("cc"))
        lm = BigramLM(bigram_counts, context_counts, _vocab_size_from(bi_census))
    else:
        doc_bi = _doc_bigrams(docs, id_col=id_col, text_col=text_col)
    logp = _quantized_logp(
        F.coalesce(F.col("cb"), F.lit(0)).cast("double"),
        F.coalesce(F.col("cc"), F.lit(0)).cast("double"),
        k,
        lm.vocab_size,
        quant_bits,
    )
    scored = (
        doc_bi.join(lm.bigram_counts, ["w1", "w2"], "left")
        .join(lm.context_counts, ["w1"], "left")
        .select("__id", "occ", logp.alias("q"))
    )
    result = (
        scored.groupBy("__id")
        .agg(
            F.sum("occ").alias("n_bigrams"),
            (-F.sum(F.col("occ") * F.col("q")) / F.sum("occ")).alias("avg_nll"),
        )
        .select(F.col("__id").alias(id_col), "n_bigrams", "avg_nll")
    )
    if self_scoring:
        # materialize the (per-doc, 3-scalar) result so the much larger
        # per-bigram cache can be released NOW instead of leaking until
        # the caller's action in a long-lived session
        result = result.localCheckpoint(eager=True)
        doc_bi_all.unpersist(False)
        bi_census.unpersist(False)
    return result


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
    quant_bits: int = 20,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    per-document importance weight log p_target(x) - log p_raw(x) under
    two bigram LMs — one trained on the small ``target`` exemplar set,
    one on the raw corpus itself.  Documents with high log-ratio look
    like the target domain; resample proportionally (feed the exp of
    the ratio, or a rank cut, into ``importance_sample``).

    Output: (id, n_bigrams, log_ratio) — per-bigram average in nats, so
    lengths don't bias the weight.

    Scale shape: the raw corpus is scanned ONCE into the per-doc bigram
    table (persisted: it feeds the raw-LM count cascade AND the scoring
    joins); the target LM's tables come from the (small) target scan and
    broadcast-join onto the probe.  Both per-bigram log-probabilities
    use the same 2^-20 floor quantization as ``bigram_lm_scores`` — the
    per-doc sums are dyadic-exact, so the ratio is bit-reproducible in
    external SQL.
    """
    # one corpus scan: the persisted keep_singles table feeds the raw-LM
    # cascade, the scoring probe, AND (via the persisted corpus-level
    # census) the vocabulary readout, whose action materializes both
    # pins — see bigram_lm_scores
    doc_bi_all = _pin_corpus(
        _doc_bigrams(docs, id_col=id_col, text_col=text_col, keep_singles=True)
    )
    doc_bi = doc_bi_all.filter(F.col("w2").isNotNull())
    bi_census = _pin_corpus(
        doc_bi_all.groupBy("w1", "w2").agg(F.sum("occ").alias("cb"))
    )
    raw_b = bi_census.filter(F.col("w2").isNotNull())
    raw_c = raw_b.groupBy("w1").agg(F.sum("cb").alias("cc"))
    raw_v = _vocab_size_from(bi_census)
    lm_t = train_bigram_lm(target, id_col=id_col, text_col=text_col)

    q_raw = _quantized_logp(
        F.coalesce(F.col("cb"), F.lit(0)).cast("double"),
        F.coalesce(F.col("cc"), F.lit(0)).cast("double"),
        k, raw_v, quant_bits,
    )
    q_tgt = _quantized_logp(
        F.coalesce(F.col("tb"), F.lit(0)).cast("double"),
        F.coalesce(F.col("tc"), F.lit(0)).cast("double"),
        k, lm_t.vocab_size, quant_bits,
    )
    scored = (
        doc_bi.join(raw_b, ["w1", "w2"], "left")
        .join(raw_c, ["w1"], "left")
        .join(
            F.broadcast(lm_t.bigram_counts.withColumnRenamed("cb", "tb")),
            ["w1", "w2"],
            "left",
        )
        .join(
            F.broadcast(lm_t.context_counts.withColumnRenamed("cc", "tc")),
            ["w1"],
            "left",
        )
        .select("__id", "occ", (q_tgt - q_raw).alias("__d"))
    )
    result = (
        scored.groupBy("__id")
        .agg(
            F.sum("occ").alias("n_bigrams"),
            (F.sum(F.col("occ") * F.col("__d")) / F.sum("occ")).alias("log_ratio"),
        )
        .select(F.col("__id").alias(id_col), "n_bigrams", "log_ratio")
        # materialized so the per-bigram cache releases immediately (see
        # bigram_lm_scores)
        .localCheckpoint(eager=True)
    )
    doc_bi_all.unpersist(False)
    bi_census.unpersist(False)
    return result


def zipf_fit(
    docs: DataFrame,
    *,
    text_col: str = "text",
    bits: int = 20,
) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: least-squares slope and
    intercept of ln(freq) against ln(rank) — the one-row diagnostic
    that tells you whether a corpus has the heavy-tail token profile of
    natural text (slope near -1) or the truncated tail of template /
    machine-generated content.

    Cross-engine exactness (the interesting part): ln values are
    floor-quantized to the 2^-bits dyadic grid as integers; the
    regression sums S_x, S_y (longs) and S_xy, S_xx (2^-2bits-scaled
    integer products summed as DECIMAL — exact in any order) are then
    combined in one fixed sequence of double ops, so an external SQL
    engine reproduces slope/intercept bit-for-bit.

    Scale shape: one (token) count shuffle over the corpus; everything
    after runs on the VOCABULARY (types, not tokens).  The rank is one
    total-order window over the vocab — vocab is millions of rows where
    the corpus is billions, the standard census trade (same as the
    n-gram census q38).

    Output: one row (n_types, slope, intercept).
    """
    scale = float(1 << bits)
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != F.lit(""))
        ).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    ranked = vocab.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("tok")))
    )
    x = F.floor(F.log(F.col("rank").cast("double")) * F.lit(scale)).cast("long")
    y = F.floor(F.log(F.col("cnt").cast("double")) * F.lit(scale)).cast("long")
    pts = ranked.select(x.alias("x"), y.alias("y"))
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy / F.lit(scale) - slope * (sx / F.lit(scale))) / n
    return agg.select(
        F.col("n").alias("n_types"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def pmi_cooccurrence(
    docs: DataFrame,
    *,
    window: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant_bits: int = 20,
) -> DataFrame:
    """Windowed PMI collocation table — the phrase/association statistic
    under word2vec-SGNS and classic collocation mining (Church & Hanks):
    for every unordered term pair co-occurring within ``window`` tokens,
    PMI = ln( c(a,b) * T / (c(a) * c(b)) ) over the skip-gram pair
    stream (T = total pair occurrences, marginals counted from the same
    stream, the SGNS convention).

    Pair generation is LINEAR, not quadratic: each position pairs with
    only the next ``window`` tokens via a per-row slice (no self-join,
    no explode-square) — len * window pairs per document, the shape that
    survives 100 TB where document-level co-occurrence (distinct-terms
    squared per doc) does not.  Two shuffles: pair census + marginal
    join (marginal table is vocabulary-sized — broadcast).

    Engine-exact: counts are integers; c_ab*T and c_a*c_b stay far below
    2^53 so their double quotient is deterministic; ln is floor-
    quantized to 2^-quant_bits (the q54/q74 convention).

    Output: (term_a, term_b, n_pair, n_a, n_b, pmi) with term_a <=
    term_b, n_pair >= min_count.
    """
    from pyspark.sql import Window as _W  # noqa: F401  (parity of style)

    w = int(window)
    if w < 1:
        raise ValueError(f"window must be >= 1, got {w}")
    toks = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
        ).alias("__t"),
    )
    # per position i (1-based slice arithmetic): pair token i with tokens
    # i+1 .. i+window, normalized to (least, greatest)
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("__t"), F.lit(1))),
            lambda i: F.transform(
                F.slice("__t", i + 1, w),
                lambda c: F.struct(
                    F.least(F.element_at("__t", i.cast("int")), c).alias("a"),
                    F.greatest(F.element_at("__t", i.cast("int")), c).alias("b"),
                ),
            ),
        )
    )
    pairs = (
        toks.filter(F.size("__t") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.a").alias("term_a"), F.col("p.b").alias("term_b"))
    )
    pair_counts = pairs.groupBy("term_a", "term_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )
    marginals = (
        pairs.select(F.explode(F.array("term_a", "term_b")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_term"))
    )
    total = pairs.agg(F.count(F.lit(1)).cast("long").alias("__T"))
    qln = lambda x: F.floor(F.log(x) * F.lit(float(2 ** quant_bits))) / F.lit(
        float(2 ** quant_bits)
    )
    return (
        pair_counts.filter(F.col("n_pair") >= int(min_count))
        .join(
            F.broadcast(marginals.selectExpr("term AS term_a", "n_term AS n_a")),
            "term_a",
        )
        .join(
            F.broadcast(marginals.selectExpr("term AS term_b", "n_term AS n_b")),
            "term_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "term_a",
            "term_b",
            "n_pair",
            "n_a",
            "n_b",
            qln(
                (F.col("n_pair") * F.col("__T")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("pmi"),
        )
    )


def hash_bucket(term: Column, n_buckets: int) -> Column:
    """Deterministic term -> bucket in [0, n_buckets): u32 of the md5
    prefix mod n_buckets — the repo's cross-engine hash convention
    (``sampling.hash_fraction``), so an external SQL oracle replays the
    identical bucketing."""
    return (
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long")
        % F.lit(int(n_buckets))
    ).cast("long")


def hashed_text_classifier(
    docs: DataFrame,
    weights: DataFrame,
    *,
    n_buckets: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
    bias: float = 0.0,
    binary: bool = False,
    quantize_bits: int = 20,
) -> DataFrame:
    """Linear text-classifier INFERENCE over hashed bag-of-words — the
    fasttext shape that curates most production pretraining corpora
    (CCNet-style language filtering, LLaMA's quality classifier,
    wiki-reference scorers): hash each token into ``n_buckets``, sum
    the bucket weights, squash.  At 100 TB this is the cheapest learned
    quality gate there is: one tokenize pass, one broadcast join, one
    groupBy — no embedding inference anywhere.

    Engine-exactness (the repo's dyadic convention): incoming weights
    are floor-quantized to 2^-``quantize_bits`` integers, so the score
    accumulates as an INTEGER in any fold order; the only float ops are
    the final scale + sigmoid — bit-identical on any engine, which is
    what lets the DuckDB oracle replay inference end-to-end.

    ``weights``: (bucket long, weight double) — duplicate buckets are
    summed (lexicon collisions fold, as hashing-trick semantics
    demand).  Assumed small (a classifier head, <= n_buckets rows):
    broadcast.  ``binary=True`` scores presence (distinct terms)
    instead of counts.  Train however you like — MLlib
    LogisticRegression on ``hash_bucket`` features, or an external
    fasttext run whose head you export — inference only needs the
    (bucket, weight) table.

    Output: (id, n_tokens, score, prob) — score = bias + sum/2^bits,
    prob = sigmoid(score).  Docs with no tokens score bias exactly.
    """
    scale = float(2 ** int(quantize_bits))
    wq = (
        weights.select(
            F.col("bucket").cast("long").alias("bucket"),
            F.floor(F.col("weight").cast("double") * F.lit(scale))
            .cast("long")
            .alias("wq"),
        )
        .groupBy("bucket")
        .agg(F.sum("wq").alias("wq"))
    )
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    if binary:
        tok = tok.distinct()
    scored = (
        tok.withColumn("bucket", hash_bucket(F.col("term"), n_buckets))
        .join(F.broadcast(wq), "bucket", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("wq"), F.lit(0))).cast("long").alias("__sq"),
        )
    )
    score = F.lit(float(bias)) + F.col("__sq").cast("double") / F.lit(scale)
    return scored.select(
        "id",
        "n_tokens",
        score.alias("score"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-score))).alias("prob"),
    )


def fit_hashed_classifier(
    labeled_docs: DataFrame,
    *,
    n_buckets: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    reg_param: float = 0.0,
    max_iter: int = 50,
) -> tuple[DataFrame, float]:
    """Train the (bucket, weight) head for ``hashed_text_classifier``
    with MLlib LogisticRegression over hashing-trick count vectors
    (the X6 convention: delegate the iterative solver to MLlib, keep
    the features and the exported artifact engine-portable).  Returns
    ``(weights_df, bias)`` — feed both straight into inference.

    The distributed part is the feature build (tokenize + bucket +
    count -> sparse vectors); the LBFGS solve is MLlib's.  The exported
    head is only as portable as any floats — inference re-quantizes it
    dyadically, so serve-side scores are engine-exact even though
    training is not deterministic across BLAS builds (documented; the
    recovery TEST asserts sign/ordering properties, not exact floats).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import StructField, StructType

    nb = int(n_buckets)
    tok = labeled_docs.select(
        F.col(id_col).alias("id"),
        F.col(label_col).cast("double").alias("label"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    counts = (
        tok.withColumn("bucket", hash_bucket(F.col("term"), nb))
        .groupBy("id", "label", "bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .groupBy("id", "label")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.struct(F.col("bucket"), F.col("c")))
                )
            ).alias("m")
        )
    )

    # Arrow can't carry VectorUDT, so the sparse vectors are built
    # driver-side.  A quality head trains on a LABELED subset (10^4-10^6
    # docs), not the corpus — the bounded-driver collect is the honest
    # altitude here (same judgment as GenESeSS pattern tables); the
    # corpus-sized pass is inference, which never collects.
    rows = counts.collect()
    spark = labeled_docs.sparkSession
    data = spark.createDataFrame(
        [
            (
                r["id"],
                float(r["label"]),
                Vectors.sparse(
                    nb,
                    sorted(r["m"]),
                    [r["m"][k] for k in sorted(r["m"])],
                ),
            )
            for r in rows
        ],
        schema=StructType(
            [
                StructField("id", counts.schema["id"].dataType),
                StructField("label", counts.schema["label"].dataType),
                StructField("features", VectorUDT()),
            ]
        ),
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=float(reg_param),
        maxIter=int(max_iter),
    )
    model = lr.fit(data)
    coef = model.coefficients
    if hasattr(coef, "indices"):
        # SparseVector __getitem__ rejects numpy ints: zip indices with
        # values instead of indexing back into the vector
        w_rows = [
            (int(i), float(v)) for i, v in zip(coef.indices, coef.values)
        ]
    else:
        w_rows = [(i, float(v)) for i, v in enumerate(coef) if v != 0.0]
    weights = local_rows(spark, w_rows or [(0, 0.0)], "bucket long, weight double")
    return weights, float(model.intercept)


def textrank_keywords(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    iterations: int = 2,
    top_k: int = 20,
    min_len: int = 3,
    units: int = 1 << 30,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — adjacent lowercase alphabetic
    tokens (len >= ``min_len``) are edges, the stationary walk mass
    ranks corpus keywords.  The graph-centrality upgrade over raw
    frequency: a word is important if important words co-occur with it.

    Spark-first composition, not a new kernel: tokenize is per-row
    slice arithmetic (zero shuffle), the DISTINCT symmetric edge set is
    one groupBy, and the walk is `graph.personalized_pagerank_units`
    seeded with every co-occurring word — INTEGER mass units, integral
    div, so the whole ranking replays bit-for-bit in SQL (the q202
    convention).  Unweighted distinct edges (the standard TextRank
    simplification); isolated words (no co-occurrence) are not ranked.

    Output: top ``top_k`` rows — (word, ppr_units, ppr, rank) under the
    total (ppr_units desc, word asc) order.
    """
    from pyspark.sql import Window

    from patternly_spark.operators.graph import personalized_pagerank_units

    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__t"),
    )
    words = toks.select(
        "__id",
        F.filter(
            F.col("__t"), lambda w: w.rlike(f"^[a-z]{{{int(min_len)},}}$")
        ).alias("__w"),
    )
    # sequence(1, 0) DESCENDS in Spark — guard docs with < 2 kept words
    # to an empty pair list explicitly
    idx = F.when(
        F.size("__w") >= 2, F.sequence(F.lit(1), F.size("__w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = words.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("__w", i).alias("a"),
                    F.element_at("__w", i + 1).alias("b"),
                ),
            )
        ).alias("__p")
    ).select(F.col("__p.a").alias("src"), F.col("__p.b").alias("dst"))
    edges = (
        pairs.unionAll(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = edges.select(F.col("src").alias("node")).distinct()
    ranked = personalized_pagerank_units(
        edges, seeds, iterations=iterations, units=units
    )
    w = Window.orderBy(F.desc("ppr_units"), F.asc("node"))
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .select(
            F.col("node").alias("word"),
            "ppr_units",
            "ppr",
            F.col("rank").cast("int").alias("rank"),
        )
    )
