"""Bigram-LM perplexity scoring: hand-computed values, trained-model
scoring of fresh docs (unseen bigrams back off), and filter semantics."""

import math

import pytest
from pyspark.sql import functions as F

from patternly_spark.operators.lm import BigramLM, bigram_lm_scores, train_bigram_lm


def _q(x: float, bits: int = 20) -> float:
    s = float(2**bits)
    return math.floor(math.log(x) * s) / s


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z")],
        "doc_id long, text string",
    )


def test_train_counts(spark, corpus):
    lm = train_bigram_lm(corpus)
    bc = {(r["w1"], r["w2"]): r["cb"] for r in lm.bigram_counts.collect()}
    assert bc == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    cc = {r["w1"]: r["cc"] for r in lm.context_counts.collect()}
    assert cc == {"a": 3, "b": 2}
    assert lm.vocab_size == 4  # a b c z


def test_hand_computed_scores(spark, corpus):
    out = {r["doc_id"]: r for r in bigram_lm_scores(corpus, k=0.5).collect()}
    # doc 3 has a single token -> no bigram -> no row
    assert set(out) == {1, 2}
    v = 4
    p_ab = (3 + 0.5) / (3 + 0.5 * v)
    p_ba = (1 + 0.5) / (2 + 0.5 * v)
    p_bc = (1 + 0.5) / (2 + 0.5 * v)
    exp1 = -(2 * _q(p_ab) + 1 * _q(p_ba)) / 3
    exp2 = -(1 * _q(p_ab) + 1 * _q(p_bc)) / 2
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 2
    assert out[1]["avg_nll"] == pytest.approx(exp1, abs=0)
    assert out[2]["avg_nll"] == pytest.approx(exp2, abs=0)


def test_unseen_bigrams_back_off(spark, corpus):
    lm = train_bigram_lm(corpus)
    fresh = spark.createDataFrame([(10, "c c c")], "doc_id long, text string")
    row = bigram_lm_scores(fresh, lm, k=0.5).first()
    # (c,c) never seen, context c never seen: P = k / (0 + k|V|) = 1/|V|
    assert row["avg_nll"] == pytest.approx(-_q(0.5 / (0.5 * 4)), abs=0)


def test_typical_docs_score_lower_than_rare(spark):
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    rows.append((99, "zyx wvu tsr qpo nml kji hgf edc ba"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_nll"] for r in bigram_lm_scores(docs).collect()}
    typical = out[0]
    rare = out[99]
    assert rare > typical  # quality filter drops the high-nll tail


def test_lm_is_reusable_dataframes(spark, corpus):
    lm = train_bigram_lm(corpus)
    assert isinstance(lm, BigramLM)
    # scoring twice against the same trained model is deterministic
    a = bigram_lm_scores(corpus, lm).orderBy("doc_id").collect()
    b = bigram_lm_scores(corpus, lm).orderBy("doc_id").collect()
    assert a == b


@pytest.mark.parametrize("mode", ["ser", "disk", "deser"])
def test_lm_pin_accepts_known_modes(spark, corpus, monkeypatch, mode):
    from patternly_spark.operators.lm import _pin_corpus

    monkeypatch.setenv("SPARK_GRAFT_LM_PIN", mode)
    pinned = _pin_corpus(corpus)
    assert pinned.count() == 3
    pinned.unpersist()


@pytest.mark.parametrize("mode", ["", "Disk", "memory", "ser "])
def test_lm_pin_rejects_unknown_mode(spark, corpus, monkeypatch, mode):
    from patternly_spark.operators.lm import _pin_corpus

    monkeypatch.setenv("SPARK_GRAFT_LM_PIN", mode)
    with pytest.raises(ValueError, match="SPARK_GRAFT_LM_PIN"):
        _pin_corpus(corpus)
    with pytest.raises(ValueError, match="SPARK_GRAFT_LM_PIN"):
        bigram_lm_scores(corpus)  # the self-scoring path pins the corpus


def test_dsir_weights_prefers_target_like_docs(spark):
    from patternly_spark.operators.lm import dsir_weights

    # target domain: "alpha beta" docs 1..4; off-domain: "x y z" noise
    target_rows = [(i, "alpha beta alpha beta alpha beta") for i in range(1, 5)]
    noise_rows = [(i, "x y z w q r s t u v") for i in range(10, 14)]
    probe = [(100, "alpha beta alpha beta"), (101, "x y z w")]
    docs = spark.createDataFrame(target_rows + noise_rows + probe, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    out = {r["doc_id"]: r["log_ratio"] for r in dsir_weights(docs, target).collect()}
    # target-like probe scores strictly higher than off-domain probe
    assert out[100] > out[101]
    assert out[100] > 0  # more likely under target LM than raw LM


def test_zipf_fit_recovers_synthetic_exponent(spark):
    """A corpus whose token frequencies follow freq ∝ rank^-1 must fit
    slope ≈ -1; values match a plain-Python replica of the quantized
    regression exactly."""
    import math

    from patternly_spark.operators.lm import zipf_fit

    # 40 types, type i repeated round(1000 / rank) times
    words = []
    for i in range(1, 41):
        words += [f"w{i:02d}"] * max(1, round(1000 / i))
    docs = spark.createDataFrame(
        [(j, " ".join(words[j::7])) for j in range(7)], "doc_id long, text string"
    )
    row = zipf_fit(docs).collect()[0]
    assert -1.15 < row["slope"] < -0.85, row["slope"]

    # replica: identical quantized sums and final op sequence
    from collections import Counter

    cnt = Counter(w for j in range(7) for w in " ".join(words[j::7]).split(" ") if w)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    S = 1 << 20
    xs = [math.floor(math.log(float(r + 1)) * S) for r in range(len(ranked))]
    ys = [math.floor(math.log(float(c)) * S) for _, c in ranked]
    n, sx, sy = float(len(xs)), float(sum(xs)), float(sum(ys))
    sxy, sxx = float(sum(x * y for x, y in zip(xs, ys))), float(sum(x * x for x in xs))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy / S - slope * (sx / S)) / n
    assert row["slope"] == slope and row["intercept"] == intercept
    assert row["n_types"] == len(ranked)


def test_pmi_cooccurrence_matches_bruteforce(spark):
    """Skip-gram pair stream, SGNS marginals, quantized-ln PMI — exact
    (==) against a plain-Python replay, including self-pairs, window
    truncation at document end, and empty/1-token docs."""
    import collections
    import math

    from patternly_spark.operators.lm import pmi_cooccurrence

    rows = [
        (1, "new york city is in new york state"),
        (2, "new york has a big city center"),
        (3, "the quick brown fox and the lazy dog"),
        (4, "york new"),
        (5, "solo"),
        (6, ""),
        (7, "m m m"),  # self-pairs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.term_a, r.term_b): (r.n_pair, r.n_a, r.n_b, r.pmi)
        for r in pmi_cooccurrence(df, window=3, min_count=2).collect()
    }

    pairs = []
    for _, txt in rows:
        t = txt.split()
        for i in range(len(t)):
            for j in range(i + 1, min(i + 3, len(t) - 1) + 1):
                pairs.append(tuple(sorted((t[i], t[j]))))
    pc = collections.Counter(pairs)
    marg = collections.Counter()
    for a, b in pairs:
        marg[a] += 1
        marg[b] += 1
    T = len(pairs)
    want = {
        (a, b): (
            c,
            marg[a],
            marg[b],
            math.floor(math.log(c * T / (marg[a] * marg[b])) * 1048576.0) / 1048576.0,
        )
        for (a, b), c in pc.items()
        if c >= 2
    }
    assert got == want
    assert ("m", "m") in got  # self-collocation counted


def test_pmi_cooccurrence_window_validation(spark):
    import pytest as _pytest

    from patternly_spark.operators.lm import pmi_cooccurrence

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        pmi_cooccurrence(df, window=0)


@pytest.fixture(scope="module")
def docs_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)


def test_hashed_text_classifier_matches_python_replay(spark, docs_df):
    """Score == the plain-Python replay of the dyadic pipeline (md5
    bucketing, floor-quantized weights, integer sums); prob is the
    sigmoid of that exact score."""
    import hashlib
    import math

    from patternly_spark.operators.lm import hashed_text_classifier

    nb, bits, bias = 512, 20, -0.25
    lex = {"the": 0.75, "data": -1.25, "quality": 2.0}

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % nb

    wq = {}
    for t, w in lex.items():
        wq[bucket(t)] = wq.get(bucket(t), 0) + math.floor(w * 2**bits)
    weights = spark.createDataFrame(
        [(b, w) for b, w in [(bucket(t), lex[t]) for t in lex]],
        "bucket long, weight double",
    )
    out = {
        r.id: (r.n_tokens, r.score, r.prob)
        for r in hashed_text_classifier(
            docs_df, weights, n_buckets=nb, bias=bias
        ).collect()
    }
    pdf = docs_df.toPandas()
    for r in pdf.itertuples():
        toks = [t for t in r.text.strip().split() if t]
        if not toks:
            assert r.doc_id not in out
            continue
        sq = sum(wq.get(bucket(t), 0) for t in toks)
        score = bias + sq / 2**bits
        n, s, p = out[r.doc_id]
        assert n == len(toks)
        assert s == score
        assert abs(p - 1.0 / (1.0 + math.exp(-score))) < 1e-12


def test_hashed_text_classifier_binary_counts_presence(spark):
    from patternly_spark.operators.lm import hash_bucket, hashed_text_classifier

    docs = spark.createDataFrame(
        [(1, "spam spam spam"), (2, "spam ham")], "doc_id long, text string"
    )
    w = docs.sparkSession.createDataFrame([("spam", 1.0)], "term string, weight double").select(
        hash_bucket(F.col("term"), 64).alias("bucket"), "weight"
    )
    by_count = {r.id: r.score for r in hashed_text_classifier(docs, w, n_buckets=64).collect()}
    by_presence = {
        r.id: r.score
        for r in hashed_text_classifier(docs, w, n_buckets=64, binary=True).collect()
    }
    assert by_count[1] == 3.0 and by_count[2] == 1.0
    assert by_presence[1] == 1.0 and by_presence[2] == 1.0


def test_fit_hashed_classifier_recovers_planted_signal(spark):
    """MLlib-trained head separates planted spam/ham vocabularies when
    served through the exact-inference path."""
    import random

    from patternly_spark.operators.lm import (
        fit_hashed_classifier,
        hashed_text_classifier,
    )

    rng = random.Random(13)
    spam_words = [f"sp{i}" for i in range(8)]
    ham_words = [f"hm{i}" for i in range(8)]
    rows = []
    for i in range(60):
        pool = spam_words if i % 2 else ham_words
        rows.append((i, " ".join(rng.choices(pool, k=12)), i % 2))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    weights, bias = fit_hashed_classifier(df, n_buckets=256, reg_param=0.01)
    probs = {
        r.id: r.prob
        for r in hashed_text_classifier(df, weights, n_buckets=256, bias=bias).collect()
    }
    spam_p = [p for i, p in probs.items() if i % 2]
    ham_p = [p for i, p in probs.items() if not i % 2]
    assert min(spam_p) > max(ham_p)


def test_textrank_keywords_hub_word_wins(spark):
    from patternly_spark.operators.lm import textrank_keywords

    # "core" co-occurs with every other word; it must rank first
    docs = [
        (1, "core alpha core beta core gamma"),
        (2, "core delta core epsilon"),
        (3, "alpha beta"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = textrank_keywords(df, top_k=10, iterations=2).collect()
    assert out[0]["word"] == "core" and out[0]["rank"] == 1
    ranks = [r["rank"] for r in out]
    assert ranks == sorted(ranks) == list(range(1, len(out) + 1))
    # short/non-alpha tokens never appear
    assert all(len(r["word"]) >= 3 and r["word"].isalpha() for r in out)


def test_textrank_matches_python_integer_replay(spark):
    from patternly_spark.operators.lm import textrank_keywords

    docs = [(1, "aaa bbb ccc aaa ddd"), (2, "bbb ccc eee fff ggg bbb")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["word"]: r["ppr_units"] for r in textrank_keywords(
        df, top_k=50, iterations=2, units=1 << 30
    ).collect()}

    # plain-Python integer replay of the same fixpoint
    toks = [d[1].split() for d in docs]
    pairs = set()
    for ts in toks:
        for a, b in zip(ts, ts[1:]):
            if a != b:
                pairs.add((a, b))
                pairs.add((b, a))
    nodes = {a for a, _ in pairs}
    deg = {}
    for a, _ in pairs:
        deg[a] = deg.get(a, 0) + 1
    u, an, ad = 1 << 30, 1, 2
    restart = (u * (ad - an)) // ad
    p = {n: u for n in nodes}
    for _ in range(2):
        nxt = {n: restart for n in nodes}
        for a, b in pairs:
            if a in p:
                nxt[b] = nxt.get(b, 0) + (p[a] * an) // (ad * deg[a])
        p = {k: v for k, v in nxt.items() if v > 0}
    assert got == p


def test_textrank_short_and_empty_docs_do_not_crash(spark):
    from patternly_spark.operators.lm import textrank_keywords

    docs = [(1, "solo"), (2, ""), (3, "x y"), (4, "alpha beta alpha")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = textrank_keywords(df, top_k=10).collect()
    assert {r["word"] for r in out} == {"alpha", "beta"}


def test_vocab_from_census_matches_corpus_scan(spark):
    """The one-scan vocabulary readout (distinct w1 ∪ w2 over the
    keep_singles corpus census) must equal the direct token-stream
    distinct for every doc shape: empty text (split yields [""], a
    legitimate vocab entry), single-token docs (sentinel rows), and
    multi-token docs."""
    from patternly_spark.operators.lm import (
        _doc_bigrams,
        _vocab_size,
        _vocab_size_from,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z"), (4, ""), (5, "q r")],
        "doc_id long, text string",
    )
    doc_bi_all = _doc_bigrams(docs, id_col="doc_id", text_col="text", keep_singles=True)
    census = doc_bi_all.groupBy("w1", "w2").agg(F.sum("occ").alias("cb"))
    expected = _vocab_size(docs, "text")
    assert _vocab_size_from(doc_bi_all) == expected
    assert _vocab_size_from(census) == expected
    # the bigram rows of the keep_singles table equal the plain table
    plain = _doc_bigrams(docs, id_col="doc_id", text_col="text")
    kept = doc_bi_all.filter(F.col("w2").isNotNull())
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, kept.collect()))
