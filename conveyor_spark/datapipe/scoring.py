"""Model-based corpus scoring: n-gram LM perplexity, linear quality
classification, BM25 relevance ranking.

The *model-driven* curation stages of an LLM data pipeline — the
CCNet / GPT-3 / LLaMA recipe steps that sit after rule-based cleaning
(text.quality, text.normalize) and before sampling:

- ``text.perplexity``: score candidate docs by an n-gram language
  model trained on a reference corpus (CCNet trains KenLM on
  Wikipedia and keeps the low-perplexity head). Our LM is an add-k
  smoothed order-n word model built with pure aggregates — the
  context-sensitive upgrade of ``text.freq_score``'s unigram mean.
- ``classify.linear``: apply a linear text classifier (fasttext-style
  bag-of-words logit) from a provided (term, weight) table — the
  "quality classifier trained on a high-quality reference corpus"
  step of the GPT-3/LLaMA recipes. Training happens offline; this op
  is the 100 TB-scale *inference* pass.
- ``rank.bm25``: BM25 relevance of every document against a set of
  queries — retrieval-style corpus selection (DSIR-like targeted
  sampling, benchmark-adjacent data discovery) and the ranking
  counterpart of decontam.ngram's binary matching.

Determinism (the oracle contract): every count is an exact int64
aggregate; each per-term contribution is ONE double expression over
exact ints (ln(), /) which is bit-identical in any engine; per-doc
totals fold the contributions in a FIXED order (position or term) via
F.aggregate over a sorted array — never a partition-order SUM over
doubles (NOTES.md determinism rule 1; the fold pattern is proven by
drift.psi/q92). Final log-derived scores round to 9, the established
log-noise policy.

Scale: nothing here shuffles document text more than once. The LM /
df / posting tables are vocabulary-sized aggregates; scalar totals
(vocab size, avgdl, N) ride as broadcast 1-row frames; per-doc
re-aggregates shuffle (id, double) pairs only. Stop-word-heavy
posting joins are the one skew hazard — rank.bm25 exposes ``max_df``
pruning (same knob as dedup.ngram_jaccard) for corpora where the
query set shares hot terms, and AQE skew-split covers the rest.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register
from conveyor_spark.datapipe.dedup import let_expr, tokens_expr


def ngrams_expr(col: str, n: int):
    """NON-distinct word n-grams (space-joined), empty for docs with
    fewer than n tokens. Counting sibling of dedup.word_shingles_expr
    (which dedups — right for shingle sets, wrong for LM counts)."""
    toks = tokens_expr(col, distinct=False)
    if n <= 1:
        return toks
    return let_expr(
        toks,
        lambda tk: F.when(
            F.size(tk) < n, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - n),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
            )
        ),
    )


def fold_sum(pairs_col):
    """Deterministic double sum: fold a collect_list of (key, val)
    structs in key order. The ONLY safe way to total per-group doubles
    across engines and partitionings (drift.psi precedent)."""
    return F.aggregate(
        F.array_sort(pairs_col),
        F.lit(0.0),
        lambda acc, x: acc + x["v"],
    )




def _nll_finish(docs, cand, lp, id_column, out):
    """Shared tail of both LM paths: position-ordered per-doc fold of
    the logprobs, round 9, join back, lm_ngrams coalesce."""
    per_doc = (
        cand.select("__id", "__pos", lp.alias("__lp"))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.collect_list(
                F.struct(F.col("__pos").alias("k"), F.col("__lp").alias("v"))
            ).alias("__lps"),
        )
        .select(
            "__id", "__n",
            F.round(
                -fold_sum(F.col("__lps")) / F.col("__n").cast("double"), 9
            ).alias(out),
        )
    )
    return (
        docs.join(per_doc, docs[id_column] == per_doc["__id"], "left")
        .drop("__id")
        .withColumn("lm_ngrams", F.coalesce(F.col("__n"), F.lit(0)).cast("int"))
        .drop("__n")
    )


def _stupid_backoff_nll(ctx, docs, ref, column, id_column, n, alpha, out):
    """Brants-et-al stupid backoff (the web-scale LM scoring rule):
    S(w | w_{1..n-1}) = c(gram_n)/c(ctx_{n-1}) when the n-gram was
    seen, else alpha * S(w | shorter context), down to the unigram
    c(w)/N; a fully-OOV word scores alpha^(n-1) / V (uniform floor).
    Unlike add-k, an unseen n-gram never flattens the whole estimate
    — it falls back to the strongest seen suffix, which is why the
    original used it at trillion-token scale (no normalization pass).

    Exactness: every branch is <literal constant> + ln(int64/int64) —
    the constant (#backoffs * ln(alpha)) is computed ONCE on the
    driver and embedded as the SAME double literal the oracle embeds;
    per-doc means fold in position order (module docstring).

    Scale: one m-gram count table per order (vocabulary-sized) and
    2n-1 left equi-joins against the candidate posting rows — the
    n-gram tables dominate; hot short-suffix keys skew the low-order
    joins and AQE skew-split covers them. The text shuffles once."""
    import math

    uni = ref.select(
        F.explode(tokens_expr(column, distinct=False)).alias("__w")
    ).groupBy("__w").agg(F.count(F.lit(1)).alias("__c1"))
    tables = {1: uni}
    for m in range(2, n + 1):
        tables[m] = ref.select(
            F.explode(ngrams_expr(column, m)).alias("__w")
        ).groupBy("__w").agg(F.count(F.lit(1)).alias(f"__c{m}"))
    # Every order-m table except the top one is referenced by BOTH
    # the backed-off gram join and the context join (and order 1
    # additionally by the scalar aggregate and its loud empty-check
    # below) — each reference otherwise re-runs the full reference
    # tokenize+count chain, input scan included. Vocabulary-bounded
    # rows: persist (r13; the mutual_information tc rationale). The
    # empty-check first() also warms the order-1 cache before the
    # scoring action.
    for m in tables:
        if m < n or m == 1:  # the top-order table (n>1) is the one
            tables[m] = ctx.persist(tables[m])  # single-consumer table
    uni = tables[1]
    scalars = uni.agg(
        F.count(F.lit(1)).alias("__v"), F.sum("__c1").alias("__nn")
    )
    # an empty reference would NULL every branch (ln of V=0) and emit
    # NULL nll corpus-wide with no signal — raise like drift.psi does
    row = scalars.first()
    if row is None or not row["__v"]:
        raise ConfigError(
            "text.perplexity backoff='stupid': the reference corpus "
            "has no tokens — every score would be NULL")

    cand = docs.select(
        F.col(id_column).alias("__id"),
        F.posexplode(ngrams_expr(column, n)).alias("__pos", "__g"),
    )
    # suffixes ENDING AT n (the backed-off grams), longest first;
    # m = n joins on __g itself (no duplicate key column)
    for m in range(n, 0, -1):
        gkey = "__g" if m == n else f"__sg{m}"
        if m < n:
            cand = cand.withColumn(
                gkey, F.substring_index("__g", " ", -m))
        cand = cand.join(
            tables[m].select(F.col("__w").alias(gkey),
                             F.col(f"__c{m}").alias(f"__cg{m}")),
            gkey, "left",
        )
    # suffixes ENDING AT n-1 (the contexts), longest first
    if n > 1:
        ctx_full = F.substring_index("__g", " ", n - 1)
        for m in range(n - 1, 0, -1):
            key = ctx_full if m == n - 1 else \
                F.substring_index(ctx_full, " ", -m)
            cand = cand.withColumn(f"__sx{m}", key).join(
                tables[m].select(F.col("__w").alias(f"__sx{m}"),
                                 F.col(f"__c{m}").alias(f"__cx{m}")),
                f"__sx{m}", "left",
            )
    cand = cand.join(F.broadcast(scalars))

    ln_a = math.log(alpha)
    lp = F.lit(float((n - 1) * ln_a)) - F.log(F.col("__v").cast("double"))
    for m in range(1, n + 1):  # build the CASE inside-out
        num = F.col(f"__cg{m}").cast("double")
        if m == 1:
            den = F.col("__nn").cast("double")
        else:
            den = F.col(f"__cx{m - 1}").cast("double")
        branch = F.lit(float((n - m) * ln_a)) + F.log(num / den)
        lp = F.when(F.col(f"__cg{m}").isNotNull(), branch).otherwise(lp)

    return _nll_finish(docs, cand, lp, id_column, out)


@register(
    "text.perplexity", kind="transform", min_inputs=1, max_inputs=2,
    doc="n-gram LM negative log-likelihood (CCNet-style quality score)",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id (unique)"),
        P("order", "integer", default=2, min=1, max=4,
          desc="LM order n (1 = unigram, 2 = bigram, ...)"),
        P("k", "float", default=1.0, desc="Add-k smoothing constant"),
        P("backoff", default="none", allowed=("none", "stupid"),
          desc="none: add-k smoothing; stupid: Brants-et-al stupid "
               "backoff (unseen n-gram backs off to the (n-1)-gram "
               "scaled by alpha)"),
        P("alpha", "float", default=0.4,
          desc="Stupid-backoff discount per backoff step"),
        P("output_column", default="nll", desc="Score column"),
    ],
    example={"column": "text", "id_column": "doc_id", "order": 2},
    tags=["text", "quality", "lm", "curation"],
)
def text_perplexity(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Per-document negative log-likelihood under an add-k smoothed
    order-n word LM — the CCNet quality filter shape (train a LM on a
    trusted reference corpus, keep the low-perplexity head of the
    candidate corpus; perplexity = exp(nll), monotone in nll, so
    filter on nll directly and skip the cross-engine exp()).

    inputs: [docs] (self-scored) or [docs, reference] (LM trained on
    the reference — the CCNet deployment). Output: docs + ``nll``
    (mean -ln P(w|context), round 9; NULL for docs with < n tokens)
    + ``lm_ngrams`` (scored n-gram count).

    Model: P(w|ctx) = (c(ctx·w) + k) / (c(ctx) + k·V) where c counts
    n-grams / (n-1)-gram contexts over the reference and V is its
    unigram vocabulary size. Unseen context => ln(1/V) (uniform), the
    standard add-k behavior. Context counts include corpus-tail
    occurrences (c(ctx) is the plain (n-1)-gram count), so the model
    is an unnormalized scorer at document boundaries — fine for
    filtering, documented for theory sticklers.

    Exactness: counts are int64; each n-gram's logprob is one
    ln(int/int) double (bit-identical everywhere); the per-doc mean
    folds logprobs in position order (see module docstring). A sum of
    floats via SUM() would NOT hash-stably replay — text.freq_score
    (curation.py) dodged logs entirely for that reason; the fold
    removes the dodge.

    Scale: two vocabulary-sized count aggregates + one 1-row vocab
    scalar (broadcast); candidates shuffle (id, gram) pairs for the
    count joins and (id, double) for the final mean — the text itself
    is never shuffled twice. c(ctx) join keys are (n-1)-grams: hot
    contexts ("of the") skew the join; AQE skew-split handles it, and
    order=2 keys are already 2-word strings, far flatter than raw
    tokens."""
    docs = inputs[0]
    ref = inputs[1] if len(inputs) > 1 else docs
    column = config.get("column")
    id_column = config.get("id_column")
    n = int(config.get("order", 2))
    if not 1 <= n <= 4:
        raise ConfigError("text.perplexity: 'order' must be 1..4")
    k = float(config.get("k", 1.0))
    if k <= 0:
        raise ConfigError("text.perplexity: smoothing 'k' must be > 0")
    out = config.get("output_column", "nll")
    backoff = config.get("backoff", "none")
    if backoff == "stupid":
        alpha = float(config.get("alpha", 0.4))
        if not 0.0 < alpha <= 1.0:
            raise ConfigError("text.perplexity: alpha must be in (0, 1]")
        return _stupid_backoff_nll(
            ctx, docs, ref, column, id_column, n, alpha, out)

    uni = ref.select(F.explode(tokens_expr(column, distinct=False)).alias("__w")) \
        .groupBy("__w").agg(F.count(F.lit(1)).alias("__cw"))
    # The unigram table is multi-referenced on every path (n=1: the
    # gram join + the scalar; n=2: the context join + the scalar;
    # n>2: scalar only, where persist is harmless) and each reference
    # otherwise re-runs the full reference tokenize+count including
    # its input scan. Vocabulary-bounded rows — the approved persist
    # class (r13; same rationale as mutual_information's tc).
    uni = ctx.persist(uni)
    if n == 1:
        # 1-grams ARE the unigram table — reusing it (rather than an
        # identical second explode+groupBy) lets the materialization
        # be shared instead of scanning the reference twice
        grams = uni.select(F.col("__w").alias("__g"),
                           F.col("__cw").alias("__cg"))
    else:
        grams = ref.select(F.explode(ngrams_expr(column, n)).alias("__g")) \
            .groupBy("__g").agg(F.count(F.lit(1)).alias("__cg"))
    if n == 1:
        # context count = total token count, one scalar
        scalars = uni.agg(
            F.count(F.lit(1)).alias("__v"), F.sum("__cw").alias("__cc")
        )
    else:
        if n == 2:
            # (n-1)-grams at n=2 ARE tokens: ngrams_expr(col, 1)
            # builds the identical expression tokens_expr builds, so
            # the context-count table IS the unigram table under other
            # names — reuse it (one fewer full reference aggregation
            # chain; counts identical by construction, q117/q122
            # oracles pin it)
            ctx_counts = uni.select(F.col("__w").alias("__ctx"),
                                    F.col("__cw").alias("__cc"))
        else:
            ctx_counts = ref.select(
                F.explode(ngrams_expr(column, n - 1)).alias("__ctx")
            ).groupBy("__ctx").agg(F.count(F.lit(1)).alias("__cc"))
        scalars = uni.agg(F.count(F.lit(1)).alias("__v"))

    cand = docs.select(
        F.col(id_column).alias("__id"),
        F.posexplode(ngrams_expr(column, n)).alias("__pos", "__g"),
    ).join(grams, "__g", "left")
    if n > 1:
        cand = cand.withColumn(
            "__ctx", F.substring_index("__g", " ", n - 1)
        ).join(ctx_counts, "__ctx", "left")
    cand = cand.join(F.broadcast(scalars))

    cc = F.coalesce(F.col("__cc"), F.lit(0)).cast("double")
    lp = F.log(
        (F.coalesce(F.col("__cg"), F.lit(0)).cast("double") + F.lit(k))
        / (cc + F.lit(k) * F.col("__v").cast("double"))
    )
    return _nll_finish(docs, cand, lp, id_column, out)


@register(
    "classify.linear", kind="transform", min_inputs=2, max_inputs=2,
    doc="Linear bag-of-words classifier inference (quality filter)",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id (unique)"),
        P("bias", "float", default=0.0, desc="Intercept term"),
        P("mode", default="mean", allowed=("mean", "sum", "binary"),
          desc="Term aggregation: tf-weighted mean / sum, or distinct-term sum"),
        P("output_column", default="logit", desc="Raw score column"),
        P("label_column", default="predicted",
          desc="Boolean column: logit > 0"),
        P("term_column", default="term", desc="Weights-table term column"),
        P("weight_column", default="weight", desc="Weights-table weight column"),
    ],
    example={"column": "text", "id_column": "doc_id", "mode": "mean"},
    tags=["text", "quality", "classify", "curation"],
)
def classify_linear(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Inference pass of a linear text classifier: logit = bias +
    agg(tf_t * w_t) over the document's terms, from a (term, weight)
    table trained OFFLINE (GPT-3/LLaMA-style "quality classifier
    trained to distinguish a trusted corpus"; fasttext's linear core
    without the subword hashing). Emits the raw ``logit`` (sigmoid is
    monotone — threshold on the logit and skip cross-engine exp())
    and ``predicted`` = logit > 0.

    inputs: [docs, weights]. ``mode``: "mean" (fasttext: tf-weighted
    mean over token count), "sum" (raw dot product), "binary"
    (distinct-term sum — presence features). Docs with zero tokens
    get logit = bias, predicted accordingly.

    Exactness: per-term contribution = tf (int64) * weight (double) —
    one multiply; the per-doc total folds contributions in TERM order
    (module docstring); round 9.

    Scale: the weights table is vocabulary-sized — broadcast-joined
    against (id, term, tf) postings, so the corpus shuffles only its
    posting pairs once for the tf groupBy. OOV terms drop out of the
    inner join instead of riding as zero rows."""
    docs, weights = inputs
    column = config.get("column")
    id_column = config.get("id_column")
    mode = config.get("mode", "mean")
    bias = float(config.get("bias", 0.0))
    out = config.get("output_column", "logit")
    label = config.get("label_column", "predicted")
    term_col = config.get("term_column", "term")
    weight_col = config.get("weight_column", "weight")
    for c in (term_col, weight_col):
        if c not in weights.columns:
            raise ConfigError(
                f"classify.linear: weights table has no column {c!r} "
                f"(has {weights.columns})"
            )

    w = weights.select(
        F.col(term_col).cast("string").alias("__w"),
        F.col(weight_col).cast("double").alias("__wt"),
    )
    tf = (
        docs.select(
            F.col(id_column).alias("__id"),
            F.explode(tokens_expr(column, distinct=False)).alias("__w"),
        )
        .groupBy("__id", "__w")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    # mean mode reads the (doc, term, tf) table twice (weight join +
    # doc lengths) — persist so the tokenize+count runs once (r13)
    if mode == "mean":
        tf = ctx.persist(tf)
    tfw = F.lit(1.0) if mode == "binary" else F.col("__tf").cast("double")
    contrib = tf.join(F.broadcast(w), "__w").select(
        "__id", "__tf", (tfw * F.col("__wt")).alias("__c"), "__w"
    )
    per_doc = contrib.groupBy("__id").agg(
        F.collect_list(
            F.struct(F.col("__w").alias("k"), F.col("__c").alias("v"))
        ).alias("__cs"),
    ).select("__id", fold_sum(F.col("__cs")).alias("__dot"))
    # mean mode normalizes by the doc's TOTAL token count (fasttext),
    # not just matched terms — needs the per-doc length too
    if mode == "mean":
        lens = tf.groupBy("__id").agg(F.sum("__tf").alias("__len"))
        per_doc = per_doc.join(lens, "__id").select(
            "__id", (F.col("__dot") / F.col("__len").cast("double")).alias("__dot")
        )
    # + 0.0 normalizes IEEE -0.0 (a logit that rounds to zero keeps
    # its sign bit in some engines; repr('-0.0') would hash-differ)
    scored = per_doc.select(
        "__id",
        (F.round(F.col("__dot") + F.lit(bias), 9) + F.lit(0.0)).alias(out),
    )
    joined = docs.join(scored, docs[id_column] == scored["__id"], "left").drop("__id")
    joined = joined.withColumn(out, F.coalesce(F.col(out), F.lit(round(bias, 9))))
    return joined.withColumn(label, F.col(out) > 0)


@register(
    "rank.bm25", kind="transform", min_inputs=2, max_inputs=2,
    doc="BM25 relevance of documents against a query set",
    params=[
        P("column", required=True, desc="Document text column"),
        P("id_column", required=True, desc="Document id (unique)"),
        P("query_id_column", default="query_id", desc="Query id column"),
        P("query_column", default="query", desc="Query text column"),
        P("k1", "float", default=1.2, desc="Term-frequency saturation"),
        P("b", "float", default=0.75, desc="Length normalization"),
        P("top_k", "integer", min=1,
          desc="Keep only the k best docs per query (ties: lower doc id)"),
        P("max_df", "float", default=1.0,
          desc="Prune query terms present in more than this fraction "
               "of docs before the posting join (skew guard; 1.0 = off)"),
    ],
    example={"column": "text", "id_column": "doc_id", "top_k": 5},
    tags=["text", "ranking", "retrieval", "curation"],
)
def rank_bm25(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Okapi BM25 scores for every (query, doc) pair sharing >= 1
    term — retrieval-style corpus selection: rank training docs by
    relevance to benchmark-like queries (DSIR-flavored targeted
    sampling) or surface benchmark-adjacent data that decontam.ngram's
    exact matching misses.

    Output: (query_id, doc_id, score[, rank with top_k]) — one row per
    candidate pair. score = sum over matched query terms of
    idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)), with
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) — the standard
    non-negative BM25+ idf. Duplicate terms within a query count once.

    Exactness: tf/df/dl/N are int64 aggregates; avgdl = int/int; each
    term's contribution is one double expression; the per-pair total
    folds contributions in term order; score rounds to 9. top_k ties
    break on doc id (total order — NOTES.md rule 5).

    Scale: df and postings are one aggregate each over the corpus
    (shuffle keyed by term, bounded by vocabulary x docs containing
    it); the query side is benchmark-sized and broadcast. Hot shared
    terms (stopwords in queries) explode the posting join — BM25's
    idf already near-zeroes them, so ``max_df`` prunes them BEFORE
    the join at a bounded score cost (same knob and rationale as
    dedup.ngram_jaccard's default mode). Scalars (N, avgdl) ride as a
    broadcast 1-row frame."""
    docs, queries = inputs
    column = config.get("column")
    id_column = config.get("id_column")
    qid = config.get("query_id_column", "query_id")
    qcol = config.get("query_column", "query")
    for c, side in ((qid, "query_id_column"), (qcol, "query_column")):
        if c not in queries.columns:
            raise ConfigError(
                f"rank.bm25: queries table has no column {c!r} ({side})"
            )
    k1 = float(config.get("k1", 1.2))
    b = float(config.get("b", 0.75))
    top_k = config.get("top_k")
    max_df = float(config.get("max_df", 1.0))
    if not 0 < max_df <= 1.0:
        raise ConfigError("rank.bm25: max_df must be in (0, 1]")

    postings = (
        docs.select(
            F.col(id_column).alias("__id"),
            F.explode(tokens_expr(column, distinct=False)).alias("__t"),
        )
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    # (id, term, tf) is the op's index and THREE consumers derive
    # from it (doc lengths, term dfs, the scoring join); doc lengths
    # feed two more. Each reference otherwise re-runs the corpus
    # tokenize+explode+count (r13 measurement: 8 parquet scans in the
    # q119 plan). Skinny rows, MEMORY_AND_DISK.
    postings = ctx.persist(postings)
    dl = ctx.persist(postings.groupBy("__id").agg(F.sum("__tf").alias("__dl")))
    df_t = postings.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    scalars = dl.agg(
        F.count(F.lit(1)).alias("__N"), F.sum("__dl").alias("__toks")
    )

    qterms = queries.select(
        F.col(qid).alias("__qid"),
        F.explode(tokens_expr(qcol, distinct=True)).alias("__t"),
    ).distinct()

    cand = (
        qterms.join(df_t, "__t")
        .join(F.broadcast(scalars))
    )
    if max_df < 1.0:
        cand = cand.filter(
            F.col("__df").cast("double")
            <= F.lit(max_df) * F.col("__N").cast("double")
        )
    nn = F.col("__N").cast("double")
    dfl = F.col("__df").cast("double")
    idf = F.log(
        F.lit(1.0) + (nn - dfl + F.lit(0.5)) / (dfl + F.lit(0.5))
    )
    cand = cand.select("__qid", "__t", idf.alias("__idf"), "__N", "__toks")

    pair_terms = (
        cand.join(postings, "__t")
        .join(dl, "__id")
    )
    avgdl = F.col("__toks").cast("double") / F.col("__N").cast("double")
    tfd = F.col("__tf").cast("double")
    dld = F.col("__dl").cast("double")
    contrib = F.col("__idf") * (
        tfd * F.lit(k1 + 1.0)
        / (tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dld / avgdl))
    )
    scored = (
        pair_terms.select("__qid", "__id", "__t", contrib.alias("__c"))
        .groupBy("__qid", "__id")
        .agg(
            F.collect_list(
                F.struct(F.col("__t").alias("k"), F.col("__c").alias("v"))
            ).alias("__cs")
        )
        .select(
            F.col("__qid").alias(qid),
            F.col("__id").alias(id_column),
            F.round(fold_sum(F.col("__cs")), 9).alias("score"),
        )
    )
    if top_k is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(qid).orderBy(
            F.col("score").desc(), F.col(id_column)
        )
        scored = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(top_k))
        )
    return scored


@register(
    "rank.tfidf", kind="transform",
    doc="Per-document top-k TF-IDF terms (keyword extraction)",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id column"),
        P("top_k", "integer", default=10, min=1,
          desc="Keywords kept per document"),
        P("max_df", "float", default=1.0,
          desc="Drop terms with df/N above this (boilerplate prune)"),
        P("min_df", "integer", default=1, min=1,
          desc="Drop terms seen in fewer documents"),
    ],
    example={"column": "text", "id_column": "doc_id", "top_k": 3},
    tags=["text", "scoring", "ranking", "datapipe"],
)
def rank_tfidf(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Smooth-idf TF-IDF (the scikit-learn formula): score =
    tf * (ln((N+1)/(df+1)) + 1), top_k terms per document by
    (score DESC, term ASC). Output: (id, term, tf, df, tfidf round 9,
    rank).

    Determinism: tf/df/N are exact int64 aggregates; the score is ONE
    double expression over them — bit-identical in any engine (the
    q117/q92 ln-of-int-ratio class) — so the rank order replays
    exactly; round 9 on output only (log-noise policy).

    Scale: postings shuffle once on (id, term); df is a vocabulary-
    sized partial aggregate; N rides a broadcast 1-row frame; the
    top-k window partitions by document over skinny rows. ``max_df``
    prunes stop-word posting skew before the join (same knob as
    rank.bm25 / dedup.ngram_jaccard)."""
    docs = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    for c in (column, id_column):
        if c not in docs.columns:
            raise ConfigError(f"rank.tfidf: no column {c!r}")
    top_k = int(config.get("top_k", 10))
    if top_k < 1:
        raise ConfigError("rank.tfidf: top_k must be >= 1")
    max_df = float(config.get("max_df", 1.0))
    if not 0 < max_df <= 1.0:
        raise ConfigError("rank.tfidf: max_df must be in (0, 1]")
    min_df = int(config.get("min_df", 1))

    postings = (
        docs.select(
            F.col(id_column).alias("__id"),
            F.explode(tokens_expr(column, distinct=False)).alias("__t"),
        )
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    # same three-consumer index shape as rank.bm25 (df table, doc
    # total, scoring join) — persist so the corpus tokenize+count
    # runs once (r13)
    postings = ctx.persist(postings)
    df_t = postings.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    n_docs = postings.select("__id").distinct().agg(
        F.count(F.lit(1)).alias("__N")
    )
    cand = postings.join(df_t, "__t").join(F.broadcast(n_docs))
    if min_df > 1:
        cand = cand.filter(F.col("__df") >= min_df)
    if max_df < 1.0:
        cand = cand.filter(
            F.col("__df").cast("double") / F.col("__N") <= max_df
        )
    score = F.col("__tf") * (
        F.log((F.col("__N") + 1).cast("double") / (F.col("__df") + 1))
        + F.lit(1.0)
    )
    scored = cand.select(
        "__id", "__t", "__tf", "__df", score.alias("__s")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy(
        F.col("__s").desc(), F.col("__t")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("__id").alias(id_column),
            F.col("__t").alias("term"),
            F.col("__tf").alias("tf"),
            F.col("__df").alias("df"),
            F.round(F.col("__s"), 9).alias("tfidf"),
            "rank",
        )
    )


@register(
    "classify.multiclass", kind="transform", min_inputs=2, max_inputs=2,
    doc="Multi-class linear bag-of-words classification (language ID / topic routing)",
    params=[
        P("column", required=True, desc="Text column"),
        P("id_column", required=True, desc="Document id (unique)"),
        P("mode", default="mean", allowed=("mean", "sum", "binary"),
          desc="Term aggregation: tf-weighted mean / sum, or distinct-term sum"),
        P("biases", "object", desc="Optional per-class intercepts {class: bias}"),
        P("output_column", default="predicted", desc="Winning class column"),
        P("score_column", default="score", desc="Winning class score column"),
        P("term_column", default="term", desc="Weights-table term column"),
        P("class_column", default="class", desc="Weights-table class column"),
        P("weight_column", default="weight", desc="Weights-table weight column"),
    ],
    example={"column": "text", "id_column": "doc_id", "mode": "mean",
             "score_column": "cls_score"},
    tags=["text", "classify", "language", "curation"],
)
def classify_multiclass(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Argmax inference over a multi-class linear text model — the
    fasttext-shaped language-ID / domain-router pass (CCNet's LID
    step, Dolma's domain tagging) generalizing classify.linear from
    one logit to K. inputs: [docs, weights] where weights is the
    offline-trained (term, class, weight) table. Per document and
    class: score = bias_c + agg(tf_t * w_{t,c}); output = the winning
    class (ties -> lexicographically smallest class) and its score.

    Every class competes for every document — a class with no matched
    terms scores bias_c (all-OOV docs get the pure-prior argmax), so
    the candidate set is docs x distinct-classes, NOT just matched
    pairs (a doc whose only matches are strongly negative must be
    allowed to fall back to an unmatched class).

    Exactness: per-term contribution = tf (int64) * weight (double),
    folded in term order per (doc, class); score rounds to 9 with the
    q118 `+ 0.0` sign normalization; argmax tie-break is total.

    Scale: the weights table is vocabulary-sized and broadcast; the
    corpus shuffles its (id, term, tf) postings once; the candidate
    frame is |docs| x K skinny (id, class, double) rows reduced by one
    groupBy — no window, no cross join of data-sized tables."""
    docs, weights = inputs
    column = config.get("column")
    id_column = config.get("id_column")
    for c in (column, id_column):
        if c not in docs.columns:
            raise ConfigError(f"classify.multiclass: no column {c!r}")
    mode = config.get("mode", "mean")
    biases = config.get("biases") or {}
    if not isinstance(biases, dict):
        raise ConfigError("classify.multiclass: biases must be a {class: bias} map")
    out = config.get("output_column", "predicted")
    score_col = config.get("score_column", "score")
    term_col = config.get("term_column", "term")
    class_col = config.get("class_column", "class")
    weight_col = config.get("weight_column", "weight")
    if out == score_col:
        raise ConfigError(
            "classify.multiclass: output_column and score_column must "
            "differ (a duplicate column name breaks downstream selects)")
    clash = sorted({out, score_col} & set(docs.columns))
    if clash:
        raise ConfigError(
            f"classify.multiclass would overwrite existing columns {clash}; "
            "set output_column/score_column")
    for c in (term_col, class_col, weight_col):
        if c not in weights.columns:
            raise ConfigError(
                f"classify.multiclass: weights table has no column {c!r} "
                f"(has {weights.columns})")

    w = weights.select(
        F.col(term_col).cast("string").alias("__w"),
        F.col(class_col).cast("string").alias("__cls"),
        F.col(weight_col).cast("double").alias("__wt"),
    )
    # per-class bias expression (driver-side map lookup at build time;
    # classes missing from the map default to 0)
    bias_expr = F.lit(0.0)
    for cls, b in sorted(biases.items()):
        bias_expr = F.when(F.col("__cls") == str(cls), F.lit(float(b))).otherwise(bias_expr)

    tf = (
        docs.select(
            F.col(id_column).alias("__id"),
            F.explode(tokens_expr(column, distinct=False)).alias("__w"),
        )
        .groupBy("__id", "__w")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    # mean mode reads the (doc, term, tf) table twice (weight join +
    # doc lengths) — persist so the tokenize+count runs once (r13)
    if mode == "mean":
        tf = ctx.persist(tf)
    tfw = F.lit(1.0) if mode == "binary" else F.col("__tf").cast("double")
    contrib = tf.join(F.broadcast(w), "__w").select(
        "__id", "__cls", (tfw * F.col("__wt")).alias("__c"), "__w"
    )
    dots = contrib.groupBy("__id", "__cls").agg(
        F.collect_list(
            F.struct(F.col("__w").alias("k"), F.col("__c").alias("v"))
        ).alias("__cs"),
    ).select("__id", "__cls", fold_sum(F.col("__cs")).alias("__dot"))
    if mode == "mean":
        lens = tf.groupBy("__id").agg(F.sum("__tf").alias("__len"))
        dots = dots.join(lens, "__id").select(
            "__id", "__cls",
            (F.col("__dot") / F.col("__len").cast("double")).alias("__dot"),
        )
    # candidate frame: every doc x every class (classes broadcast);
    # bias-only classes (a prior with no term weights) still compete
    classes = w.select("__cls").distinct()
    spark = docs.sparkSession
    bias_only = sorted(str(c) for c in biases)
    if bias_only:
        classes = classes.union(
            spark.createDataFrame([(c,) for c in bias_only], "__cls STRING")
        ).distinct()
    cand = (
        docs.select(F.col(id_column).alias("__id"))
        .join(F.broadcast(classes))
        .join(dots, ["__id", "__cls"], "left")
        .select(
            "__id", "__cls",
            (F.round(F.coalesce(F.col("__dot"), F.lit(0.0)) + bias_expr, 9)
             + F.lit(0.0)).alias("__s"),
        )
    )
    # argmax(score), tie -> min class: min over struct(-score, class).
    # -0.0 from negating a zero score is safe: Spark normalizes signed
    # zeros in comparisons, and the EMITTED score re-negates through
    # the same struct so both engines hash the `+ 0.0`-normalized form
    best = cand.groupBy("__id").agg(
        F.min(F.struct(
            (-F.col("__s")).alias("ns"), F.col("__cls").alias("c")
        )).alias("__b")
    ).select(
        "__id",
        F.col("__b.c").alias(out),
        (-F.col("__b.ns") + F.lit(0.0)).alias(score_col),
    )
    return docs.join(best, docs[id_column] == best["__id"], "left").drop("__id")


@register(
    "rank.rrf", kind="transform", min_inputs=2, max_inputs=None,
    doc="Reciprocal rank fusion of multiple rankings",
    params=[
        P("id_column", required=True, desc="Item id column (all inputs)"),
        P("rank_column", default="rank",
          desc="1-based rank column (all inputs). Rank 0 raises at "
               "execution (0-based rankings must shift by +1 — the "
               "top item would otherwise silently vanish); NULL or "
               "negative ranks contribute 0"),
        P("query_id_column",
          desc="Optional per-query column: fuse within each query"),
        P("k", "integer", default=60, min=0,
          desc="RRF damping constant (the classic 60)"),
        P("weights", "array",
          desc="Per-input weights, aligned with the stage's inputs "
               "(default: all 1.0)"),
        P("top_k", "integer", min=1, desc="Keep only the k best fused"),
    ],
    example={"id_column": "doc_id", "rank_column": "rank", "k": 60},
    tags=["ranking", "retrieval", "fusion", "datapipe"],
)
def rank_rrf(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Cormack-Clarke-Buettcher reciprocal rank fusion: fused score =
    sum_i w_i / (k + rank_i) over every input ranking the item
    appears in (absent = contributes 0) — the standard way to merge
    BM25 + dense-ANN + TF-IDF candidate lists without score
    calibration. Output: (query_id?, id, rrf_score, rrf_rank) with
    rrf_rank 1-based by (score DESC, id ASC).

    Exactness: each contribution is ONE double expression over exact
    ints (w / (k + rank)); per-item totals fold in input order
    (module docstring policy); score rounds to 9. q147 replays it.

    Scale: one unionByName of skinny (query, id, src, rank) rows, one
    groupBy fold, one per-query window — rankings are top-k-sized by
    construction, so this is a small-data op even at corpus scale."""
    id_column = config.get("id_column")
    rank_column = config.get("rank_column", "rank")
    qid = config.get("query_id_column")
    k = int(config.get("k", 60))
    if k < 0:
        raise ConfigError("rank.rrf: k must be >= 0")
    weights = config.get("weights")
    if weights is not None:
        if len(weights) != len(inputs):
            raise ConfigError(
                f"rank.rrf: {len(weights)} weights for {len(inputs)} inputs")
        weights = [float(w) for w in weights]
    else:
        weights = [1.0] * len(inputs)
    top_k = config.get("top_k")
    for i, df in enumerate(inputs):
        for c in filter(None, (id_column, rank_column, qid)):
            if c not in df.columns:
                raise ConfigError(
                    f"rank.rrf: input {i} has no column {c!r}")

    parts = []
    for i, (df, w) in enumerate(zip(inputs, weights)):
        rank_d = F.col(rank_column).cast("double")
        # ranks are 1-based. NULL/negative ranks contribute 0 (the
        # row drops — junk must not NULL the item's whole fused
        # score), but rank EXACTLY 0 is the 0-based-ranking footgun:
        # dropping it would silently erase each list's TOP item, so
        # it raises a named error at execution instead (lazy-safe —
        # no driver action at plan build).
        contrib = F.when(
            rank_d == 0,
            F.raise_error(F.lit(
                f"rank.rrf: rank 0 in input {i} — ranks are 1-based; "
                "shift a 0-based ranking by +1 (its top item would "
                "otherwise silently vanish from the fusion)")),
        ).otherwise(F.lit(w) / (F.lit(float(k)) + rank_d))
        cols = [
            F.col(id_column).alias("__id"),
            F.lit(i).alias("__src"),
            contrib.alias("__c"),
        ]
        if qid:
            cols.insert(0, F.col(qid).alias("__qid"))
        rank_ok = F.col(rank_column).isNotNull() & (rank_d >= 0)
        parts.append(df.filter(rank_ok).select(*cols))
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    keys = (["__qid"] if qid else []) + ["__id"]
    fused = allc.groupBy(*keys).agg(
        F.collect_list(
            F.struct(F.col("__src").alias("k"), F.col("__c").alias("v"))
        ).alias("__cs")
    ).select(
        *keys, (F.round(fold_sum(F.col("__cs")), 9) + F.lit(0.0))
        .alias("rrf_score"),
    )
    from pyspark.sql import Window

    w_spec = (Window.partitionBy("__qid") if qid else
              Window.partitionBy(F.lit(1)))
    w_spec = w_spec.orderBy(F.col("rrf_score").desc(), F.col("__id"))
    out = fused.withColumn("rrf_rank", F.row_number().over(w_spec))
    if top_k is not None:
        out = out.filter(F.col("rrf_rank") <= int(top_k))
    renames = [F.col("__id").alias(id_column), "rrf_score", "rrf_rank"]
    if qid:
        renames.insert(0, F.col("__qid").alias(qid))
    return out.select(*renames)
