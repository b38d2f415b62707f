"""Corpus-profile operators — the distribution-level monitors a
training-data pipeline publishes alongside its per-document scores:
per-source length-distribution drift, embedding-dimension health,
vocabulary-growth (Heaps-law) curves, and shared boilerplate
prefix/suffix detection.

Reference anchor: the reference has no profiling family (gap category,
SURVEY.md §2.6); these are release-audit staples of large corpus work
(the C4/Pile/Gopher-style dataset analyses).

100 TB shape, per op:
  * :func:`length_drift` — two bounded groupBys ((source × ~40 power-of-2
    bins), then source) with map-side combine; the corpus-wide bin
    distribution is a ≤ 40-row broadcast. The corpus shuffles ONCE on
    the slim (source, bin) pair.
  * :func:`embedding_dim_stats` — one posexplode to (dim, value) and one
    bounded groupBy on dim (= vector width keys); decimal-exact sums so
    the result is partitioning-order-independent.
  * :func:`vocab_growth` — the 10-prefix distinct-vocabulary curve
    WITHOUT 10 corpus rescans: one (token) shuffle computes each token's
    FIRST prefix bucket (min over md5 doc buckets), then every curve
    point is a cumulative sum over the bounded (bucket → counts) frame.
  * :func:`boilerplate_affixes` — map-only affix extraction, one groupBy
    on the (kind, affix) key; output bounded by the min_docs floor.

Cross-engine float discipline (the x34/x55 recipe): ratio terms are
double arithmetic ending in ``round(·, 12)``, accumulated as
decimal(27,18) (exact, order-independent), final values round 9;
integer outputs stay integer (exact by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from .sampling import duck_hash_bucket, hash_bucket


def _kl_term(p, q):
    """One bin's KL term p·ln(p/q), rounded to 12 places and cast to
    decimal(27,18) so the per-group sum is exact and order-independent
    (shared by :func:`length_drift` and :func:`length_drift_frozen`)."""
    return F.round(p * F.log(p / q), 12).cast("decimal(27,18)")


def length_drift(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Per-group KL divergence of the character-length distribution
    (power-of-2 bins) against the whole-corpus distribution — the drift
    monitor that catches one source suddenly shipping truncated or
    concatenated documents. NULL text is excluded (no length).

    Output: (group_col, n_docs BIGINT, kl DOUBLE round-9), one row per
    group, KL = Σ_bins p·ln(p/q) with p the group's bin share and q the
    corpus bin share (q > 0 wherever p > 0, since the corpus contains
    the group)."""
    ln = F.length(F.col(text_col))
    bin_ = F.pow(F.lit(2.0), F.floor(F.log2(F.greatest(ln, F.lit(1))))).cast(
        "bigint"
    )
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(group_col).alias("_g"), bin_.alias("_b")
    )
    # ONE corpus pass: the (group, bin) counts are bounded
    # (n_groups × ~40 rows) — materialize them (localCheckpoint) so the
    # three derivations below never rescan the corpus.
    gb = (
        base.groupBy("_g", "_b")
        .agg(F.count(F.lit(1)).alias("_n_gb"))
        .localCheckpoint()
    )
    g = gb.groupBy("_g").agg(F.sum("_n_gb").alias("_n_g"))
    b = gb.groupBy("_b").agg(F.sum("_n_gb").alias("_n_b"))
    n_total = gb.agg(F.sum("_n_gb")).collect()[0][0]  # bounded scalar
    p = F.col("_n_gb") / F.col("_n_g")
    q = F.col("_n_b") / F.lit(float(n_total))
    return (
        gb.join(g, "_g")
        .join(F.broadcast(b), "_b")
        .select("_g", "_n_g", _kl_term(p, q).alias("_t"))
        .groupBy("_g", "_n_g")
        .agg(F.round(F.sum("_t").cast("double"), 9).alias("kl"))
        .select(
            F.col("_g").alias(group_col),
            F.col("_n_g").cast("bigint").alias("n_docs"),
            "kl",
        )
    )


def duck_length_drift_sql(
    table: str, group_col: str, text_col: str
) -> str:
    """DuckDB mirror of :func:`length_drift` — same bins, same
    operation order inside the KL term, same round-12 → decimal → round-9
    discipline."""
    return f"""
    WITH base AS (
      SELECT {group_col} AS _g,
             CAST(pow(2, floor(log2(greatest(length({text_col}), 1))))
                  AS BIGINT) AS _b
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    gb AS (SELECT _g, _b, count(*) AS _n_gb FROM base GROUP BY _g, _b),
    g AS (SELECT _g, sum(_n_gb) AS _n_g FROM gb GROUP BY _g),
    b AS (SELECT _b, sum(_n_gb) AS _n_b FROM gb GROUP BY _b),
    tot AS (SELECT count(*) AS _n FROM base)
    SELECT gb._g AS {group_col},
           CAST(any_value(g._n_g) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(round(
             (gb._n_gb / g._n_g)
             * ln((gb._n_gb / g._n_g) / (b._n_b / CAST(tot._n AS DOUBLE))),
             12) AS DECIMAL(27,18))) AS DOUBLE), 9) AS kl
    FROM gb JOIN g USING (_g) JOIN b USING (_b) CROSS JOIN tot
    GROUP BY gb._g
    """


def embedding_dim_stats(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension corpus statistics over an embedding column — the
    dead/degenerate-dimension audit run before any ANN index build: a
    dimension whose variance collapsed (or that went exactly zero on a
    bad producer batch) poisons every cosine downstream.

    Output per dimension: (dim INT, n BIGINT, n_zero BIGINT, mean DOUBLE
    round-9, var DOUBLE round-9). Sums are decimal-exact
    (order-independent); mean/var are computed double-side in one fixed
    operation order: mean = s/n, var = s2/n − mean²."""
    e = df.select(F.posexplode(F.col(vec_col)).alias("dim", "_v")).select(
        "dim", F.col("_v").cast("double").alias("_v")
    )
    s = F.sum(F.col("_v").cast("decimal(38,12)")).cast("double")
    s2 = F.sum(
        F.round(F.col("_v") * F.col("_v"), 12).cast("decimal(38,12)")
    ).cast("double")
    n = F.count(F.lit(1))
    mean = s / n
    return (
        e.groupBy("dim")
        .agg(
            n.alias("n"),
            F.count(F.when(F.col("_v") == 0.0, 1)).alias("n_zero"),
            F.round(mean, 9).alias("mean"),
            F.round(s2 / n - mean * mean, 9).alias("var"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n",
            "n_zero",
            "mean",
            "var",
        )
    )


def duck_embedding_dim_stats_sql(table: str, vec_col: str) -> str:
    """DuckDB mirror of :func:`embedding_dim_stats` (0-based dims, same
    decimal sums, same mean/var operation order)."""
    return f"""
    WITH e AS (
      SELECT generate_subscripts({vec_col}, 1) - 1 AS dim,
             CAST(unnest({vec_col}) AS DOUBLE) AS _v
      FROM {table}
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           count(*) AS n,
           CAST(count(*) FILTER (WHERE _v = 0.0) AS BIGINT) AS n_zero,
           round(CAST(sum(CAST(_v AS DECIMAL(38,12))) AS DOUBLE) / count(*),
                 9) AS mean,
           round(CAST(sum(CAST(round(_v * _v, 12) AS DECIMAL(38,12)))
                      AS DOUBLE) / count(*)
                 - (CAST(sum(CAST(_v AS DECIMAL(38,12))) AS DOUBLE)
                    / count(*))
                   * (CAST(sum(CAST(_v AS DECIMAL(38,12))) AS DOUBLE)
                      / count(*)),
                 9) AS var
    FROM e GROUP BY dim
    """


def vocab_growth(
    df: DataFrame, id_col: str, text_col: str, n_steps: int = 10
) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: corpus prefixes of
    10%, 20%, …, 100% of documents in deterministic md5-hash order, and
    for each prefix the document count, total token occurrences, and
    DISTINCT token count. Sublinear distinct growth is the expected
    shape; a curve that stays near-linear flags an open vocabulary
    (ids/hashes in text), and one that flattens immediately flags
    template spam.

    The distinct counts need no per-step rescan: each token's FIRST
    bucket (min md5 doc-bucket it occurs in) is a single (token) shuffle;
    a token is IN the step-s vocabulary iff first_bucket < s·(100/n_steps)
    — so every curve point is a cumulative sum over the bounded
    (bucket → counts) frame. All outputs are integers (exact).

    Output: (step INT 1-based, n_docs, n_tokens, n_distinct_tokens)."""
    if not 1 <= n_steps <= 100:
        raise ValueError("n_steps must be in [1, 100]")
    width = 100 // n_steps
    base = df.where(F.col(text_col).isNotNull()).select(
        hash_bucket(F.col(id_col)).alias("_bk"),
        tokens(text_col).alias("_ts"),
    )
    docs = base.groupBy("_bk").agg(
        F.count(F.lit(1)).alias("_nd"),
        F.sum(F.size("_ts")).alias("_nt"),
    )
    firsts = (
        base.select("_bk", F.explode("_ts").alias("_tok"))
        .groupBy("_tok")
        .agg(F.min("_bk").alias("_fb"))
        .groupBy("_fb")
        .agg(F.count(F.lit(1)).alias("_nv"))
    )
    steps = df.sparkSession.range(1, n_steps + 1).select(
        F.col("id").cast("int").alias("step"),
        (F.col("id") * width).alias("_lim"),
    )
    agg_docs = (
        steps.join(F.broadcast(docs), F.col("_bk") < F.col("_lim"), "left")
        .groupBy("step")
        .agg(
            F.coalesce(F.sum("_nd"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.sum("_nt"), F.lit(0)).alias("n_tokens"),
        )
    )
    agg_vocab = (
        steps.join(F.broadcast(firsts), F.col("_fb") < F.col("_lim"), "left")
        .groupBy("step")
        .agg(F.coalesce(F.sum("_nv"), F.lit(0)).alias("n_distinct_tokens"))
    )
    return (
        agg_docs.join(agg_vocab, "step")
        .select(
            "step",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_distinct_tokens").cast("bigint").alias(
                "n_distinct_tokens"
            ),
        )
        .orderBy("step")
    )


def duck_vocab_growth_sql(
    table: str, id_col: str, text_col: str, n_steps: int = 10
) -> str:
    """DuckDB mirror of :func:`vocab_growth` (same md5 buckets, same
    min-first-bucket trick)."""
    width = 100 // n_steps
    bucket = duck_hash_bucket(id_col)
    return f"""
    WITH base AS (
      SELECT {bucket} AS _bk, string_split({text_col}, ' ') AS _ts
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    docs AS (
      SELECT _bk, count(*) AS _nd, sum(len(_ts)) AS _nt
      FROM base GROUP BY _bk
    ),
    firsts AS (
      SELECT _tok, min(_bk) AS _fb
      FROM (SELECT _bk, unnest(_ts) AS _tok FROM base) GROUP BY _tok
    ),
    fb AS (SELECT _fb, count(*) AS _nv FROM firsts GROUP BY _fb),
    steps AS (
      SELECT CAST(s AS INTEGER) AS step, s * {width} AS _lim
      FROM generate_series(1, {n_steps}) t(s)
    )
    SELECT steps.step,
           CAST(coalesce((SELECT sum(_nd) FROM docs WHERE _bk < _lim), 0)
                AS BIGINT) AS n_docs,
           CAST(coalesce((SELECT sum(_nt) FROM docs WHERE _bk < _lim), 0)
                AS BIGINT) AS n_tokens,
           CAST(coalesce((SELECT sum(_nv) FROM fb WHERE _fb < _lim), 0)
                AS BIGINT) AS n_distinct_tokens
    FROM steps ORDER BY step
    """


def boilerplate_affixes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    min_docs: int = 2,
) -> DataFrame:
    """Shared document prefixes/suffixes — crawl boilerplate detection
    below full-document granularity: mirrored headers, injected footers,
    and licence banners surface as a k-char affix shared by many docs
    whose bodies differ (so exact dedup misses them).

    Output per shared affix: (kind 'prefix'|'suffix', affix STRING,
    n_docs BIGINT, min_doc, max_doc) for affixes shared by ≥ min_docs
    docs. Map-only affix extraction; one groupBy on the (kind, affix)
    key; output bounded by the min_docs floor."""
    if k < 1:
        raise ValueError("k must be >= 1")
    base = df.where(
        F.col(text_col).isNotNull() & (F.length(text_col) >= k)
    )
    parts = base.select(
        F.lit("prefix").alias("kind"),
        F.substring(F.col(text_col), 1, k).alias("affix"),
        F.col(id_col).alias("_id"),
    ).unionByName(
        base.select(
            F.lit("suffix").alias("kind"),
            F.expr(f"right({text_col}, {k})").alias("affix"),
            F.col(id_col).alias("_id"),
        )
    )
    return (
        parts.groupBy("kind", "affix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("_id").alias("min_doc"),
            F.max("_id").alias("max_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def duck_boilerplate_affixes_sql(
    table: str, id_col: str, text_col: str, k: int = 32, min_docs: int = 2
) -> str:
    """DuckDB mirror of :func:`boilerplate_affixes`."""
    return f"""
    WITH base AS (
      SELECT {id_col} AS _id, {text_col} AS _t FROM {table}
      WHERE {text_col} IS NOT NULL AND length({text_col}) >= {k}
    ),
    parts AS (
      SELECT 'prefix' AS kind, substring(_t, 1, {k}) AS affix, _id FROM base
      UNION ALL
      SELECT 'suffix' AS kind, right(_t, {k}) AS affix, _id FROM base
    )
    SELECT kind, affix, count(*) AS n_docs,
           min(_id) AS min_doc, max(_id) AS max_doc
    FROM parts GROUP BY kind, affix
    HAVING count(*) >= {min_docs}
    """


def fit_length_baseline(df: DataFrame, text_col: str) -> dict[int, int]:
    """Freeze the corpus character-length distribution for streaming
    drift monitoring: bin-exponent k = floor(log2(max(length, 1))) →
    doc count. Bounded collect (≤ ~40 bins — the frozen-literal fit
    rule shared with ``dsir.fit_bucket_ratios`` / ``retrieval.
    fit_bm25_stats``). NULL text is excluded, as in
    :func:`length_drift`."""
    k = F.floor(F.log2(F.greatest(F.length(F.col(text_col)), F.lit(1))))
    rows = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(k.cast("int").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {int(r.k): int(r.n) for r in rows}


#: widest length bin the frozen scorer enumerates: 2^40 chars per doc
#: comfortably exceeds any real document.
_MAX_LEN_BIN = 41


def length_drift_frozen(
    df: DataFrame,
    group_col: str,
    text_col: str,
    baseline: dict[int, int],
) -> DataFrame:
    """Streaming arm of :func:`length_drift` (the x52-trend/x56-frozen-
    threshold pattern, round-5 verdict #4): per-group KL divergence of
    the length distribution against a FROZEN corpus baseline from
    :func:`fit_length_baseline`, instead of the same batch's own corpus
    distribution.

    Structurally a SINGLE aggregation — per-bin counts are conditional
    counts inside one ``groupBy(group)``, and the KL sum is a pure
    expression over them — because chained aggregations are unsupported
    in streaming; this form runs unchanged on a streaming frame
    (update/complete mode), one shuffle on the group key, state bounded
    by n_groups.

    Parity contract (tested): on the FIT corpus the result equals
    :func:`length_drift` bit-for-bit — same long/long→double shares,
    same ln(p/q) argument order, same round-12 → decimal → round-9
    accumulation; q is frozen as the identical IEEE divide n_b/n_total.

    Drift the batch form cannot express: a batch whose docs land in a
    bin EMPTY in the baseline (q = 0, KL undefined) reports those docs
    in ``new_bin_docs`` instead of poisoning the sum — on the fit
    corpus this column is exactly 0.

    Output: (group_col, n_docs BIGINT, kl DOUBLE round-9,
    new_bin_docs BIGINT)."""
    n_total = sum(baseline.values())
    if n_total <= 0:
        raise ValueError("baseline is empty — fit it on a non-empty corpus")
    k_expr = F.floor(
        F.log2(F.greatest(F.length(F.col(text_col)), F.lit(1)))
    ).cast("int")
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(group_col).alias("_g"), k_expr.alias("_k")
    )
    bins = sorted(set(range(_MAX_LEN_BIN)) | set(baseline))
    aggs = [
        F.count(F.when(F.col("_k") == k, 1)).alias(f"_n{k}") for k in bins
    ]
    agged = base.groupBy("_g").agg(F.count(F.lit(1)).alias("_n_g"), *aggs)
    kl = F.lit(0).cast("decimal(38,18)")
    new_docs = F.lit(0).cast("bigint")
    for k in bins:
        n_gb = F.col(f"_n{k}")
        if k in baseline:
            # length_drift's term; q frozen as the same IEEE divide
            q = F.lit(baseline[k] / float(n_total))
            term = _kl_term(n_gb / F.col("_n_g"), q)
            kl = kl + F.when(n_gb > 0, term).otherwise(
                F.lit(0).cast("decimal(27,18)")
            )
        else:
            new_docs = new_docs + n_gb
    return agged.select(
        F.col("_g").alias(group_col),
        F.col("_n_g").cast("bigint").alias("n_docs"),
        F.round(kl.cast("double"), 9).alias("kl"),
        new_docs.alias("new_bin_docs"),
    )


def vocab_coverage(
    df: DataFrame, group_col: str, text_col: str, vocab_size: int = 1000
) -> DataFrame:
    """Per-group OOV report against the corpus's OWN top-``vocab_size``
    token vocabulary — the tokenizer-fit audit run before committing a
    vocab: a source whose token-level OOV rate is an outlier is either a
    different language/domain than the vocab was fit on, or junk
    (base64, minified code) that will shred into rare tokens.

    Vocabulary = the ``vocab_size`` most frequent tokens, ties broken by
    token text ascending — a deterministic total order, so the boundary
    is engine-portable. Per group: token occurrences, OOV occurrences
    and their rate (token-level), plus distinct-token (type-level)
    counts. All counts are exact integers; the rate is one fixed-order
    long/long → double divide, round-9.

    100 TB shape: token counting is ONE (token) shuffle with map-side
    combine; the top-N election is a TakeOrdered (distributed heap —
    NEVER a global row_number window, which would sort every distinct
    token in one task); the ≤ vocab_size vocabulary broadcasts into the
    coverage pass, so the corpus-side explode joins map-only; the final
    aggregation groups on the bounded source key (the type-level
    distinct counts expand over the same (group, token) key class the
    count pass already shuffled).

    Output: (group_col, n_tokens, n_oov, oov_rate, n_types,
    n_types_oov), one row per group."""
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(group_col).alias("_g"),
        F.explode(tokens(text_col)).alias("_tok"),
    )
    vocab = (
        toks.groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("_tok"))
        .limit(vocab_size)
        .select("_tok", F.lit(True).alias("_iv"))
    )
    j = toks.join(F.broadcast(vocab), "_tok", "left")
    oov = F.col("_iv").isNull()
    n_tokens = F.count(F.lit(1))
    n_oov = F.count(F.when(oov, 1))
    return (
        j.groupBy("_g")
        .agg(
            n_tokens.alias("n_tokens"),
            n_oov.alias("n_oov"),
            F.round(n_oov / n_tokens, 9).alias("oov_rate"),
            F.countDistinct("_tok").alias("n_types"),
            F.countDistinct(F.when(oov, F.col("_tok"))).alias(
                "n_types_oov"
            ),
        )
        .select(
            F.col("_g").alias(group_col),
            "n_tokens",
            "n_oov",
            "oov_rate",
            "n_types",
            "n_types_oov",
        )
    )


def duck_vocab_coverage_sql(
    table: str, group_col: str, text_col: str, vocab_size: int = 1000
) -> str:
    """DuckDB mirror of :func:`vocab_coverage` — same tokenization, the
    same (count DESC, token ASC) deterministic vocabulary boundary, the
    same fixed-order integer-division rate."""
    return f"""
    WITH toks AS (
      SELECT {group_col} AS _g, unnest(string_split({text_col}, ' ')) AS _tok
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    counts AS (SELECT _tok, count(*) AS _n FROM toks GROUP BY _tok),
    vocab AS (
      SELECT _tok FROM (
        SELECT _tok, row_number() OVER (ORDER BY _n DESC, _tok) AS rn
        FROM counts
      ) WHERE rn <= {int(vocab_size)}
    ),
    j AS (
      SELECT t._g, t._tok, v._tok IS NOT NULL AS iv
      FROM toks t LEFT JOIN vocab v ON t._tok = v._tok
    )
    SELECT _g AS {group_col},
           count(*) AS n_tokens,
           CAST(count(*) FILTER (WHERE NOT iv) AS BIGINT) AS n_oov,
           round(count(*) FILTER (WHERE NOT iv) / count(*), 9) AS oov_rate,
           CAST(count(DISTINCT _tok) AS BIGINT) AS n_types,
           CAST(count(DISTINCT CASE WHEN NOT iv THEN _tok END) AS BIGINT)
             AS n_types_oov
    FROM j GROUP BY _g ORDER BY _g
    """


def _mg_merge(counter: dict, vc, k: int) -> dict:
    """Mergeable Misra–Gries update (Agarwal et al., "Mergeable
    Summaries"): fold a batch's exact value_counts into the bounded
    summary, then if over capacity subtract the (k+1)-th largest count
    from every entry and drop the non-positives. Total undercount per
    stream is ≤ n/(k+1), which is what the superset guarantee needs."""
    for tok, c in vc.items():
        counter[tok] = counter.get(tok, 0) + int(c)
    if len(counter) > k:
        sub = sorted(counter.values(), reverse=True)[k]
        counter = {t: c - sub for t, c in counter.items() if c - sub > 0}
    return counter


def heavy_hitters(
    df: DataFrame, text_col: str, k: int = 50, summary_size: int | None = None
) -> DataFrame:
    """Exact heavy-hitter tokens — every token whose occurrence count
    strictly exceeds n_total/k — found WITHOUT shuffling the full
    distinct-token space: per-partition Misra–Gries summaries (bounded
    memory ``summary_size``, default 4k, built with vectorized batch
    value_counts + the mergeable-summaries fold) yield a driver-side
    candidate set GUARANTEED to contain every true heavy hitter (a token
    with global count > n/k is partition-heavy somewhere, and MG's
    undercount is ≤ n_p/(summary_size+1) ≤ n_p/k there); one exact
    verification pass filters the corpus to the broadcast candidates and
    counts them precisely.

    The output is EXACT and sketch-independent — (token, n_occurrences)
    for tokens with n·k > n_total, integer arithmetic only (no division,
    engine-portable) — which is why it can carry a plain SQL oracle while
    the MG stage stays an internal scale device. The superset guarantee
    is property-tested under adversarial partitionings.

    100 TB shape: the MG pass is mapInPandas (Arrow-batched; THE
    legitimate Python case — a bounded-memory sequential-fold sketch
    Spark's built-ins can't express) emitting ≤ partitions ×
    summary_size rows; candidates collect bounded; the verification
    filter broadcasts them, so the only token-keyed shuffle is over
    candidate tokens — not the corpus vocabulary."""
    import pandas as pd

    if k < 2:
        raise ValueError("k must be >= 2")
    m = summary_size or 4 * k
    if m < k:
        raise ValueError("summary_size must be >= k")
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.explode(tokens(text_col)).alias("_tok")
    )
    n_total = (
        df.where(F.col(text_col).isNotNull())
        .select(F.sum(F.size(tokens(text_col))).alias("n"))
        .collect()[0]["n"]
        or 0
    )
    if n_total == 0:
        return toks.groupBy(F.col("_tok").alias("token")).agg(
            F.count(F.lit(1)).alias("n_occurrences")
        )

    def mg(it):
        counter: dict = {}
        for pdf in it:
            counter = _mg_merge(counter, pdf["_tok"].value_counts(), m)
        yield pd.DataFrame({"_tok": list(counter.keys())})

    cand = [
        r["_tok"]
        for r in toks.mapInPandas(mg, "_tok string").distinct().collect()
    ]
    cand_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(c,) for c in cand], "_tok string"
        )
    )
    return (
        toks.join(cand_df, "_tok")
        .groupBy(F.col("_tok").alias("token"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") * k > F.lit(int(n_total)))
    )


def duck_heavy_hitters_sql(table: str, text_col: str, k: int = 50) -> str:
    """DuckDB mirror of :func:`heavy_hitters`' exact contract (the MG
    stage is an internal scale device — the OUTPUT is defined purely as
    tokens with count·k > n_total, integer arithmetic)."""
    return f"""
    WITH toks AS (
      SELECT unnest(string_split({text_col}, ' ')) AS token
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT token, count(*) AS n_occurrences
    FROM toks CROSS JOIN tot
    GROUP BY token, tot.n
    HAVING count(*) * {int(k)} > tot.n
    ORDER BY token
    """


def embedding_centroid_report(
    df: DataFrame, group_col: str, vec_col: str
) -> DataFrame:
    """Per-group semantic summary over an embedding column — the drift
    audit run between corpus snapshots or across sources: a group whose
    centroid-norm² collapses toward 0 has embeddings cancelling out
    (mixed/incoherent content); one whose dispersion shrinks suddenly
    has become self-similar (template flooding).

    Per group: n vectors, ``centroid_norm2`` = ‖mean vector‖²,
    ``mean_norm2`` = E‖x‖², and ``dispersion`` = E‖x − c‖² =
    mean_norm2 − centroid_norm2 (the total-variance identity).

    Cross-engine float discipline: per-dimension sums Σx and Σx² are
    decimal-exact (order-independent); each dimension's squared-mean
    term re-enters as round-12 decimal so the ACROSS-DIMENSION sums are
    also order-independent; final values round-9.

    100 TB shape: one posexplode to (group, dim, v) and ONE exchange on
    the bounded (group × dim) key with map-side combine; everything
    after runs on the ≤ groups×dim frame."""
    e = df.select(
        F.col(group_col).alias("_g"),
        F.posexplode(F.col(vec_col)).alias("_d", "_v"),
    ).select("_g", "_d", F.col("_v").cast("double").alias("_v"))
    gd = e.groupBy("_g", "_d").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_v").cast("decimal(38,12)")).alias("_s"),
        F.sum(
            F.round(F.col("_v") * F.col("_v"), 12).cast("decimal(38,12)")
        ).alias("_s2"),
    )
    mean_ = F.col("_s").cast("double") / F.col("_n")
    mean_sq = F.round(mean_ * mean_, 12).cast("decimal(27,18)")
    s2_term = F.round(
        F.col("_s2").cast("double") / F.col("_n"), 12
    ).cast("decimal(27,18)")
    agg = gd.groupBy("_g").agg(
        F.max("_n").alias("n"),
        F.sum(mean_sq).cast("double").alias("_c2"),
        F.sum(s2_term).cast("double").alias("_m2"),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("bigint").alias("n"),
        F.round("_c2", 9).alias("centroid_norm2"),
        F.round("_m2", 9).alias("mean_norm2"),
        F.round(F.col("_m2") - F.col("_c2"), 9).alias("dispersion"),
    )


def duck_embedding_centroid_sql(
    table: str, group_col: str, vec_col: str
) -> str:
    """DuckDB mirror of :func:`embedding_centroid_report` — same decimal
    per-dimension sums, same round-12 re-entry of the across-dimension
    terms, same operation order."""
    return f"""
    WITH e AS (
      SELECT {group_col} AS _g,
             generate_subscripts({vec_col}, 1) AS _d,
             CAST(unnest({vec_col}) AS DOUBLE) AS _v
      FROM {table}
    ),
    gd AS (
      SELECT _g, _d, count(*) AS _n,
             sum(CAST(_v AS DECIMAL(38,12))) AS _s,
             sum(CAST(round(_v * _v, 12) AS DECIMAL(38,12))) AS _s2
      FROM e GROUP BY _g, _d
    ),
    agg AS (
      SELECT _g, max(_n) AS n,
             CAST(sum(CAST(round((CAST(_s AS DOUBLE) / _n)
                                 * (CAST(_s AS DOUBLE) / _n), 12)
                           AS DECIMAL(27,18))) AS DOUBLE) AS _c2,
             CAST(sum(CAST(round(CAST(_s2 AS DOUBLE) / _n, 12)
                           AS DECIMAL(27,18))) AS DOUBLE) AS _m2
      FROM gd GROUP BY _g
    )
    SELECT _g AS {group_col}, CAST(n AS BIGINT) AS n,
           round(_c2, 9) AS centroid_norm2,
           round(_m2, 9) AS mean_norm2,
           round(_m2 - _c2, 9) AS dispersion
    FROM agg ORDER BY {group_col}
    """


def embedding_outliers(
    df: DataFrame,
    id_col: str,
    group_col: str,
    vec_col: str,
    top_k: int = 3,
) -> DataFrame:
    """Per-group embedding OUTLIERS — the top-``top_k`` vectors farthest
    (squared euclidean) from their group's centroid: the row-level drill-
    down beside :func:`embedding_centroid_report`'s group-level
    dispersion (a mislabeled/garbage embedding shows up here long before
    it moves the group mean). Output: (group_col, id_col, dist2 DOUBLE
    rounded 9, rank INT), rank 1 = farthest, ties broken by id.

    100 TB shape: two corpus passes, both map-heavy — (1) ONE exchange
    on the bounded (group × dim) key builds the centroids; (2) the
    centroid frame (≤ groups×dim rows) BROADCASTS back onto the
    re-exploded corpus, so the distance pass shuffles only the
    per-(group, id) partial sums; the final top-k is a per-group window
    over the (group, id)-level frame — never a global sort.

    Cross-engine float discipline (the x83 recipe): per-dimension
    centroid sums are DECIMAL(38,12)-exact; each squared residual
    re-enters as round-12 DECIMAL(27,18) so the across-dimension sum is
    order-independent; round-9 final."""
    e = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_g"),
        F.posexplode(F.col(vec_col)).alias("_d", "_v"),
    ).select("_id", "_g", "_d", F.col("_v").cast("double").alias("_v"))
    cent = e.groupBy("_g", "_d").agg(
        F.sum(F.col("_v").cast("decimal(38,12)")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    c = F.col("_s").cast("double") / F.col("_n")
    diff = F.col("_v") - c
    d = (
        e.join(F.broadcast(cent), ["_g", "_d"])
        .select(
            "_id",
            "_g",
            F.round(diff * diff, 12).cast("decimal(27,18)").alias("_t"),
        )
        .groupBy("_g", "_id")
        .agg(F.round(F.sum("_t").cast("double"), 9).alias("dist2"))
    )
    w = Window.partitionBy("_g").orderBy(F.col("dist2").desc(), F.col("_id"))
    return (
        d.select(
            F.col("_g").alias(group_col),
            F.col("_id").alias(id_col),
            "dist2",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= int(top_k))
    )


def duck_embedding_outliers_sql(
    table: str, id_col: str, group_col: str, vec_col: str, top_k: int = 3
) -> str:
    """DuckDB mirror of :func:`embedding_outliers` — same decimal
    per-dimension sums, same round-12 residual re-entry, same operation
    order."""
    return f"""
    WITH e AS (
      SELECT {id_col} AS _id, {group_col} AS _g,
             generate_subscripts({vec_col}, 1) AS _d,
             unnest({vec_col}) AS _v0
      FROM {table}
    ),
    e2 AS (SELECT _id, _g, _d, CAST(_v0 AS DOUBLE) AS _v FROM e),
    cent AS (
      SELECT _g, _d, sum(CAST(_v AS DECIMAL(38,12))) AS _s,
             count(*) AS _n
      FROM e2 GROUP BY _g, _d
    ),
    t AS (
      SELECT _id, e2._g AS _g,
             CAST(round((e2._v - CAST(cent._s AS DOUBLE) / cent._n)
                      * (e2._v - CAST(cent._s AS DOUBLE) / cent._n), 12)
                  AS DECIMAL(27,18)) AS _t
      FROM e2 JOIN cent ON e2._g = cent._g AND e2._d = cent._d
    ),
    d AS (
      SELECT _g, _id, round(CAST(sum(_t) AS DOUBLE), 9) AS dist2
      FROM t GROUP BY _g, _id
    )
    SELECT _g AS {group_col}, _id AS {id_col}, dist2,
           CAST(row_number() OVER (
             PARTITION BY _g ORDER BY dist2 DESC, _id
           ) AS INT) AS rank
    FROM d QUALIFY rank <= {int(top_k)}
    ORDER BY {group_col}, rank
    """


def zipf_slope(
    df: DataFrame, group_col: str, text_col: str, max_rank: int = 1000
) -> DataFrame:
    """Per-group Zipf rank-frequency slope — the log-log OLS fit of
    ln(freq) on ln(rank) over the group's top-``max_rank`` tokens:
    healthy natural-language sources sit near −1; a slope collapsing
    toward 0 flags templated/duplicated text (flat frequency profile)
    and one diving far below −1 flags a degenerate, few-token vocabulary.
    Output: (group_col, n_ranks BIGINT, slope DOUBLE rounded 9).

    100 TB shape: ONE corpus exchange builds the (group, token) counts
    with map-side combine; ranking is a window over that VOCABULARY-
    bounded frame partitioned by group (one vocab-sized exchange, never
    the corpus), and the regression reduces each group to five decimal-
    exact sums — no second corpus pass, no collect.

    Cross-engine float discipline: x=ln(rank) and y=ln(count) are
    per-row round-12 DECIMAL(27,18) terms (order-independent sums of x,
    y, xy, x²); the closed-form slope
    (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx) is ONE fixed-order double
    expression over those exact sums, absorbed by round-9."""
    toks = tokens(text_col)
    cnt = (
        df.select(F.col(group_col).alias("_g"), F.explode(toks).alias("_w"))
        .groupBy("_g", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("_g").orderBy(F.col("_c").desc(), F.col("_w"))
    ranked = cnt.select(
        "_g", "_c", F.row_number().over(w).alias("_r")
    ).filter(F.col("_r") <= int(max_rank))
    x = F.log(F.col("_r").cast("double"))
    y = F.log(F.col("_c").cast("double"))
    d12 = lambda col: F.round(col, 12).cast("decimal(27,18)")  # noqa: E731
    sums = ranked.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(d12(x)).cast("double").alias("_sx"),
        F.sum(d12(y)).cast("double").alias("_sy"),
        F.sum(d12(x * y)).cast("double").alias("_sxy"),
        F.sum(d12(x * x)).cast("double").alias("_sxx"),
    )
    n = F.col("_n").cast("double")
    slope = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    return sums.select(
        F.col("_g").alias(group_col),
        F.col("_n").alias("n_ranks"),
        # a single-rank group has x = ln(1) = 0 for its only point, so
        # the OLS denominator is exactly 0 — report NULL, not NaN
        F.when(F.col("_n") >= 2, F.round(slope, 9)).alias("slope"),
    )


def duck_zipf_slope_sql(
    table: str, group_col: str, text_col: str, max_rank: int = 1000
) -> str:
    """DuckDB mirror of :func:`zipf_slope` — same ranking tie-break,
    same round-12 decimal sums, same closed-form slope expression."""
    return f"""
    WITH cnt AS (
      SELECT {group_col} AS _g, tok AS _w, count(*) AS _c
      FROM (SELECT {group_col}, unnest(string_split({text_col}, ' ')) AS tok
            FROM {table})
      GROUP BY _g, _w
    ),
    ranked AS (
      SELECT _g, _c,
             row_number() OVER (PARTITION BY _g ORDER BY _c DESC, _w) AS _r
      FROM cnt QUALIFY _r <= {int(max_rank)}
    ),
    terms AS (
      SELECT _g,
             CAST(round(ln(CAST(_r AS DOUBLE)), 12) AS DECIMAL(27,18)) AS _x,
             CAST(round(ln(CAST(_c AS DOUBLE)), 12) AS DECIMAL(27,18)) AS _y,
             CAST(round(ln(CAST(_r AS DOUBLE)) * ln(CAST(_c AS DOUBLE)), 12)
                  AS DECIMAL(27,18)) AS _xy,
             CAST(round(ln(CAST(_r AS DOUBLE)) * ln(CAST(_r AS DOUBLE)), 12)
                  AS DECIMAL(27,18)) AS _xx
      FROM ranked
    ),
    sums AS (
      SELECT _g, count(*) AS _n,
             CAST(sum(_x) AS DOUBLE) AS _sx, CAST(sum(_y) AS DOUBLE) AS _sy,
             CAST(sum(_xy) AS DOUBLE) AS _sxy,
             CAST(sum(_xx) AS DOUBLE) AS _sxx
      FROM terms GROUP BY _g
    )
    SELECT _g AS {group_col}, _n AS n_ranks,
           CASE WHEN _n >= 2 THEN
             round((CAST(_n AS DOUBLE) * _sxy - _sx * _sy)
                 / (CAST(_n AS DOUBLE) * _sxx - _sx * _sx), 9)
           END AS slope
    FROM sums
    """


def trimmed_group_mean(
    df: DataFrame,
    group_col: str,
    value: Column,
    id_col: str,
    trim_frac: float = 0.05,
) -> DataFrame:
    """Per-group TRIMMED mean — the robust location estimate a quality
    dashboard should publish instead of the raw mean (a handful of spam
    docs or empty stubs drags a source's raw mean; the trimmed mean
    ignores the tails): drop the ``floor(n·trim_frac)`` lowest and
    highest values by EXACT rank (ties broken by ``id_col`` — a total
    order, so the trimmed SET is deterministic, unlike
    percentile-interpolation winsorizing whose cut value is
    engine-specific), then average what remains.

    Output: (group_col, n_docs, n_trimmed_each, trimmed_mean, raw_mean).

    100 TB shape: ONE group-keyed exchange; the rank is a per-group
    window sort (externally sorted within partitions — a pathologically
    hot group bounds parallelism, not correctness), the means are
    decimal-exact sums of round-12 values (order-independent across
    partitions), round-9 outputs."""
    if not 0 <= trim_frac < 0.5:
        raise ValueError("trim_frac must be in [0, 0.5)")
    d12 = F.round(value, 12).cast("decimal(27,18)")
    # NULL scores are excluded up front (n_docs counts SCORED docs):
    # left in, they would sort to one end of the rank, survive the trim,
    # and silently inflate the kept-row denominator while adding nothing
    # to the sum.
    base = df.select(
        F.col(group_col).alias("_g"), F.col(id_col).alias("_id"),
        d12.alias("_v"),
    ).where(F.col("_v").isNotNull())
    w = Window.partitionBy("_g").orderBy("_v", "_id")
    wg = Window.partitionBy("_g")
    ranked = base.select(
        "_g", "_v",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wg).alias("_n"),
    )
    t = F.floor(F.col("_n") * F.lit(float(trim_frac))).cast("int")
    kept = (F.col("_rn") > t) & (F.col("_rn") <= F.col("_n") - t)
    return (
        ranked.groupBy(F.col("_g").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(t).alias("n_trimmed_each"),
            F.round(
                (
                    F.sum(F.when(kept, F.col("_v"))).cast("double")
                    / F.sum(F.when(kept, 1).otherwise(0)).cast("double")
                ),
                9,
            ).alias("trimmed_mean"),
            F.round(
                F.sum("_v").cast("double") / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("raw_mean"),
        )
    )


def disorder_profile(
    df: DataFrame,
    type_col: str,
    arrival_col,
    ts_col: str,
    block: int = 8192,
) -> DataFrame:
    """Out-of-orderness profile of an event stream — the measurement a
    watermark delay is SIZED from: for each event (in arrival order,
    given by ``arrival_col``), its displacement behind the maximum
    event-time already seen, bucketed into power-of-2 seconds per event
    type. ``withWatermark(ts, delay)`` drops everything later than
    ``delay``; this report says what each candidate delay would drop
    (the bucket tail above the chosen delay IS the dropped fraction) —
    the empirical basis for the lateness bound instead of a guess.

    Output: (type_col, disorder_bucket_lo_sec BIGINT, n_events BIGINT);
    bucket −1 = in-order (never behind the running max), 0 = late by
    < 1 s, else 2^k seconds. All integer arithmetic (microsecond longs).

    PRECONDITION: ``arrival_col`` must be a TOTAL order (unique keys).
    Tied arrivals make "already seen" ambiguous — the within-block
    window's tie handling is layout-dependent, so two runs (or two
    engines) could bucket the tied rows differently.

    100 TB shape — an exact global running max WITHOUT a single-task
    window: arrival keys bucket into ``block``-sized ranges; the
    within-block prior-max is a parallel per-block window, the
    cross-block prior-max is a prefix max over the n/block-row
    block-max frame (itself windowable hierarchically if n/block ever
    outgrows one task — the same two-level TeraSort-prefix shape as
    value_bucketed_rank), and the true prior max is the greater of the
    two. The final rollup is a ≤ types × ~40-bucket groupBy."""
    arr = F.col(arrival_col) if isinstance(arrival_col, str) else arrival_col
    neg_inf = F.lit(-(1 << 62)).cast("bigint")
    base = df.select(
        F.col(type_col).alias("_t"),
        arr.alias("_a"),
        F.unix_micros(F.col(ts_col)).alias("_us"),
    ).withColumn("_blk", F.expr(f"_a div {int(block)}"))
    win = (
        Window.partitionBy("_blk")
        .orderBy("_a")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wblk = F.max("_us").over(win)
    bm = base.groupBy("_blk").agg(F.max("_us").alias("_bmax"))
    wpm = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    pm = bm.select(
        "_blk", F.coalesce(F.max("_bmax").over(wpm), neg_inf).alias("_pm")
    )
    prior = F.greatest(F.coalesce(wblk, neg_inf), F.col("_pm"))
    dis_us = F.greatest(prior - F.col("_us"), F.lit(0).cast("bigint"))
    dis_sec = F.expr(
        "_dis_us div 1000000"
    )
    bucket = (
        F.when(F.col("_dis_us") == 0, F.lit(-1))
        .when(dis_sec == 0, F.lit(0))
        .otherwise(
            F.pow(
                F.lit(2.0), F.floor(F.log2(dis_sec.cast("double")))
            ).cast("bigint")
        )
    )
    return (
        base.join(F.broadcast(pm), "_blk")
        .withColumn("_dis_us", dis_us)
        .select(
            F.col("_t").alias(type_col),
            bucket.cast("bigint").alias("disorder_bucket_lo_sec"),
        )
        .groupBy(type_col, "disorder_bucket_lo_sec")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(type_col, "disorder_bucket_lo_sec")
    )


def key_skew_audit(df: DataFrame, key_col: str) -> DataFrame:
    """Key-cardinality skew histogram — the report that sizes every
    keyed decision downstream: whether a join/groupBy on this key needs
    salting (one power-of-2 bucket far above the rest = a hot key AQE
    may not fully split), how much state a keyed streaming operator
    will hold per key, and what group-size timeout is sane. NULL keys
    count as a real group (they hash to one reducer like any hot key —
    the skew report must not hide them).

    Output per power-of-2 group-size bucket: (group_size_bucket_lo
    BIGINT, n_keys BIGINT, n_rows BIGINT), exact integers.

    100 TB shape: ONE key exchange with map-side combine to the
    distinct-key frame, then a ≤ ~40-key bucket rollup — the same
    pre-flight law as the pair-budget estimator (both price a shuffle
    from its key histogram without running it)."""
    per_key = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    bucket = F.pow(
        F.lit(2.0), F.floor(F.log2(F.col("_n").cast("double")))
    ).cast("bigint")
    return (
        per_key.select(bucket.alias("group_size_bucket_lo"), "_n")
        .groupBy("group_size_bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("_n").alias("n_rows"),
        )
        .orderBy("group_size_bucket_lo")
    )


def fit_value_baselines(
    df: DataFrame, type_col: str, value_col: str
) -> dict:
    """Fit arm of the streaming anomaly gate (q86's control chart split
    fit-on-history / apply-on-stream, the bm25_gate/decontam_gate
    pattern): per type, the mean and sample std of ``value_col`` from
    exact decimal sums — a BOUNDED collect (one row per type). Types
    with < 2 rows or zero variance are omitted (no usable baseline;
    the gate passes their rows un-scored)."""
    d12 = F.round(F.col(value_col).cast("double"), 12).cast("decimal(27,18)")
    rows = (
        df.groupBy(F.col(type_col).alias("_t"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(d12).cast("double").alias("_sx"),
            F.sum(
                F.round(
                    F.col(value_col).cast("double")
                    * F.col(value_col).cast("double"),
                    12,
                ).cast("decimal(27,18)")
            )
            .cast("double")
            .alias("_sxx"),
        )
        .collect()
    )
    out = {}
    for r in rows:
        if r._n < 2:
            continue
        mean = r._sx / r._n
        var = (r._sxx - r._sx * r._sx / r._n) / (r._n - 1)
        if var <= 0:
            continue
        out[r._t] = [mean, var ** 0.5]
    return out


def kmv_distinct_audit(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k_shingle: int = 3,
    k_min: int = 256,
) -> DataFrame:
    """K-Minimum-Values distinct-count sketch (Bar-Yossef et al. 2002)
    WITH its own accuracy audit: per group, the KMV estimate of the
    distinct-shingle count — Ê = (k−1)·2³²/h₍k₎ from the k smallest
    md5-prefix hash values — next to the exact count and the relative
    error. The estimator a 100 TB vocabulary census would actually use
    (the exact arm needs the full distinct fold; the sketch needs k
    values per group), shipped here with the exact arm as ground truth
    so the error column IS the evidence. Groups with fewer than k
    distinct shingles report their exact count (the sketch stores the
    whole set — zero error by construction).

    Output: (group_col, n_exact BIGINT, kmv_estimate DOUBLE round-3,
    rel_err DOUBLE round-6).

    100 TB shape: ONE distinct (group, shingle) exchange — the hashed
    distinct frame is persisted (the x34 ``_persist`` discipline,
    MEMORY_AND_DISK) because BOTH arms consume it (the exact count and
    the k-minimum selection); without the persist, column pruning
    specializes each arm's scan and the whole explode + distinct
    subtree runs twice. The k-smallest selection is a rank-≤-k window
    (WindowGroupLimit: each partition keeps only k candidates before
    the final per-group sort — the q37 top-k law, pointed at the
    SMALLEST hashes); everything downstream is a ≤ groups×k frame.
    Hash ties break on the shingle string — a total order, so h₍k₎ is
    engine-deterministic."""
    from ..functions.text import word_shingles
    from .dedup import _persist

    sh = (
        df.select(
            F.col(group_col).alias("_g"),
            F.explode(word_shingles(text_col, k_shingle)).alias("_s"),
        )
        .distinct()
    )
    h = F.conv(F.substring(F.md5("_s"), 1, 8), 16, 10).cast("bigint")
    hashed = _persist(sh.select("_g", "_s", h.alias("_h")))
    counts = hashed.groupBy("_g").agg(F.count(F.lit(1)).alias("n_exact"))
    w = Window.partitionBy("_g").orderBy("_h", "_s")
    kth = (
        hashed.select("_g", "_h", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= int(k_min))
        .groupBy("_g")
        .agg(F.max("_h").alias("_hk"), F.count(F.lit(1)).alias("_nk"))
    )
    est = F.when(
        F.col("_nk") < int(k_min), F.col("n_exact").cast("double")
    ).otherwise(
        F.lit(float(k_min - 1)) * F.lit(float(2**32)) / F.col("_hk").cast("double")
    )
    return (
        counts.join(kth, "_g")
        .select(
            F.col("_g").alias(group_col),
            "n_exact",
            F.round(est, 3).alias("kmv_estimate"),
            F.round(
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
        )
    )


def zipf_fit(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_n: int = 200,
) -> DataFrame:
    """Per-source Zipf-law fit: OLS of ln(freq) on ln(rank) over each
    source's ``top_n`` most frequent tokens — slope ≈ −1 is the healthy
    natural-text signature (Zipf 1949); a flat slope flags synthetic /
    templated text (token frequencies too uniform), a cliff flags
    boilerplate domination. The release-audit companion to x114's KL
    (KL says "this source DIFFERS from the corpus"; the Zipf slope says
    "this source doesn't look like language at all").

    Rank is deterministic: count DESC, token ASC (the vocab_coverage
    boundary rule). Output: (group_col, n_terms, slope, r2), doubles
    round-9, ordered by group.

    Cross-engine float discipline: each point's x = ln(rank),
    y = ln(cnt) and the products x·y, x², y² are doubles rounded to 12
    and accumulated as decimal(27,18) (exact, order-independent); the
    closed-form slope/R² arithmetic then runs on bit-identical doubles
    in a mirrored operation order, rounding 9 at the end. ln is 1-ulp
    cross-engine on ~1e-4 of inputs — but ln of INTEGER rank/count
    values is measured-stable (the unigram_logprob note), and round-12
    absorbs the residual.

    100 TB shape: one (group, token) exchange to the vocab-bounded
    count frame; per-GROUP rank windows parallelize across sources
    (never a global sort); the regression sums are a ≤ |sources| agg
    over ≤ top_n rows each."""
    if top_n < 2:
        raise ValueError("top_n must be >= 2")
    from ..functions.text import tokens

    cnts = (
        df.select(
            F.col(group_col).alias("_g"),
            F.explode(tokens(text_col)).alias("token"),
        )
        .groupBy("_g", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("_g").orderBy(F.col("cnt").desc(), F.col("token"))
    top = cnts.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= top_n
    )
    x = F.round(F.log(F.col("_r").cast("double")), 12)
    y = F.round(F.log(F.col("cnt").cast("double")), 12)
    pt = top.select(
        "_g",
        x.alias("_x"),
        y.alias("_y"),
        F.round(x * y, 12).alias("_xy"),
        F.round(x * x, 12).alias("_xx"),
        F.round(y * y, 12).alias("_yy"),
    )

    def dec(c: str) -> Column:
        return F.sum(F.col(c).cast("decimal(27,18)")).cast("double")

    sums = pt.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n_terms"),
        dec("_x").alias("sx"),
        dec("_y").alias("sy"),
        dec("_xy").alias("sxy"),
        dec("_xx").alias("sxx"),
        dec("_yy").alias("syy"),
    )
    n = F.col("n_terms").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return sums.select(
        F.col("_g").alias(group_col),
        F.col("n_terms").cast("bigint").alias("n_terms"),
        F.round(cov / vx, 9).alias("slope"),
        F.round(
            F.when(vy > 0, (cov * cov) / (vx * vy)).otherwise(F.lit(0.0)), 9
        ).alias("r2"),
    ).orderBy(group_col)


def duck_zipf_fit_sql(
    table: str, group_col: str, text_col: str, top_n: int = 200
) -> str:
    """DuckDB mirror of :func:`zipf_fit` — same deterministic rank,
    round-12 points, decimal sums, and closed-form arithmetic order."""
    return f"""
    WITH cnts AS (
      SELECT {group_col} AS _g, token, count(*) AS cnt
      FROM (SELECT {group_col},
                   unnest(string_split({text_col}, ' ')) AS token
            FROM {table})
      GROUP BY _g, token
    ),
    top AS (
      SELECT _g, cnt,
             row_number() OVER (
               PARTITION BY _g ORDER BY cnt DESC, token ASC
             ) AS _r
      FROM cnts QUALIFY _r <= {int(top_n)}
    ),
    pt AS (
      SELECT _g,
             round(ln(CAST(_r AS DOUBLE)), 12) AS _x,
             round(ln(CAST(cnt AS DOUBLE)), 12) AS _y
      FROM top
    ),
    pts AS (
      SELECT _g, _x, _y,
             round(_x * _y, 12) AS _xy,
             round(_x * _x, 12) AS _xx,
             round(_y * _y, 12) AS _yy
      FROM pt
    ),
    sums AS (
      SELECT _g, count(*) AS n_terms,
             CAST(sum(CAST(_x AS DECIMAL(27,18))) AS DOUBLE) AS sx,
             CAST(sum(CAST(_y AS DECIMAL(27,18))) AS DOUBLE) AS sy,
             CAST(sum(CAST(_xy AS DECIMAL(27,18))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(_xx AS DECIMAL(27,18))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(_yy AS DECIMAL(27,18))) AS DOUBLE) AS syy
      FROM pts GROUP BY _g
    )
    SELECT _g AS {group_col},
           CAST(n_terms AS BIGINT) AS n_terms,
           round((sxy - sx * sy / CAST(n_terms AS DOUBLE))
                 / (sxx - sx * sx / CAST(n_terms AS DOUBLE)), 9) AS slope,
           round(CASE WHEN (syy - sy * sy / CAST(n_terms AS DOUBLE)) > 0
                      THEN ((sxy - sx * sy / CAST(n_terms AS DOUBLE))
                            * (sxy - sx * sy / CAST(n_terms AS DOUBLE)))
                           / ((sxx - sx * sx / CAST(n_terms AS DOUBLE))
                              * (syy - sy * sy / CAST(n_terms AS DOUBLE)))
                      ELSE 0.0 END, 9) AS r2
    FROM sums ORDER BY {group_col}
    """


def hill_tail_index(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 50,
) -> DataFrame:
    """Per-group Hill estimator of the heavy-tail index (Hill 1975) over
    a positive size column — THE capacity-planning number for document
    lengths: α ≈ 1 means Zipf-like mass in the giants (packing,
    shuffle-partition sizing, and executor memory must budget for
    monsters), α > 2 means the tail is tame and mean-based sizing is
    safe. The length-DISTRIBUTION companion to x67's drift (x67 asks
    "did it change", this asks "how dangerous is it").

        H = (1/k) Σ_{i=1..k} ln(x_(i) / x_(k+1)),   α̂ = 1/H

    over each group's k largest values x_(1) ≥ … ≥ x_(k+1) (ties broken
    deterministically). Groups need ≥ k+1 positive values; smaller
    groups use k' = n−1; groups with < 2 positive values report NULL.

    Output: (group_col, n BIGINT, k_used BIGINT, hill_h, hill_alpha),
    doubles round-9, ordered by group.

    Cross-engine float discipline: each ln ratio rounds to 12 and
    accumulates as decimal(27,18); H and α derive from the exact sum in
    a mirrored operation order, rounding 9 at the edge.

    100 TB shape: one rank window PER GROUP (parallel across groups —
    for a single monster group, route the rank through
    value_bucketed_rank); the estimator consumes ≤ k+1 rows per group
    and aggregates to ≤ |groups| rows."""
    if k < 1:
        raise ValueError("k must be >= 1")
    v = F.col(value_col).cast("double")
    pos = df.filter(v > 0).select(
        F.col(group_col).alias("_g"), v.alias("_v"),
        F.col(value_col).alias("_tie"),
    )
    w = Window.partitionBy("_g").orderBy(F.col("_v").desc(), F.col("_tie"))
    ranked = pos.select(
        "_g", "_v", F.row_number().over(w).alias("_r")
    )
    sizes = ranked.groupBy("_g").agg(F.count(F.lit(1)).alias("n"))
    ku = sizes.select(
        "_g", "n",
        F.least(F.lit(int(k)), F.col("n") - 1).alias("k_used"),
    )
    ref = (
        ranked.join(F.broadcast(ku), "_g")
        .filter(F.col("_r") == F.col("k_used") + 1)
        .select("_g", F.col("_v").alias("_xk1"))
    )
    terms = (
        ranked.join(F.broadcast(ku), "_g")
        .filter(F.col("_r") <= F.col("k_used"))
        .join(F.broadcast(ref), "_g")
        .select(
            "_g",
            F.round(F.log(F.col("_v") / F.col("_xk1")), 12).alias("_t"),
        )
    )
    h = (
        terms.groupBy("_g")
        .agg(
            F.sum(F.col("_t").cast("decimal(27,18)")).cast("double").alias(
                "_s"
            ),
            F.count(F.lit(1)).alias("_k"),
        )
        .select(
            "_g",
            (F.col("_s") / F.col("_k").cast("double")).alias("_h"),
        )
    )
    return (
        ku.join(h, "_g", "left")
        .select(
            F.col("_g").alias(group_col),
            F.col("n").cast("bigint").alias("n"),
            F.greatest(F.col("k_used"), F.lit(0)).cast("bigint").alias(
                "k_used"
            ),
            F.round("_h", 9).alias("hill_h"),
            F.when(F.col("_h") > 0, F.round(F.lit(1.0) / F.col("_h"), 9))
            .alias("hill_alpha"),
        )
        .orderBy(group_col)
    )


def duck_hill_tail_index_sql(
    table: str, group_col: str, value_col: str, k: int = 50
) -> str:
    """DuckDB mirror of :func:`hill_tail_index` — same deterministic
    rank, k' truncation, round-12 terms, decimal sum, and operation
    order."""
    return f"""
    WITH pos AS (
      SELECT {group_col} AS _g,
             CAST({value_col} AS DOUBLE) AS _v,
             {value_col} AS _tie
      FROM {table} WHERE CAST({value_col} AS DOUBLE) > 0
    ),
    ranked AS (
      SELECT _g, _v,
             row_number() OVER (
               PARTITION BY _g ORDER BY _v DESC, _tie
             ) AS _r
      FROM pos
    ),
    ku AS (
      SELECT _g, count(*) AS n,
             least({int(k)}, count(*) - 1) AS k_used
      FROM ranked GROUP BY _g
    ),
    ref AS (
      SELECT r._g, r._v AS _xk1
      FROM ranked r JOIN ku USING (_g)
      WHERE r._r = ku.k_used + 1
    ),
    terms AS (
      SELECT r._g, round(ln(r._v / ref._xk1), 12) AS _t
      FROM ranked r JOIN ku USING (_g) JOIN ref USING (_g)
      WHERE r._r <= ku.k_used
    ),
    h AS (
      SELECT _g,
             CAST(sum(CAST(_t AS DECIMAL(27,18))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS _h
      FROM terms GROUP BY _g
    )
    SELECT ku._g AS {group_col},
           CAST(ku.n AS BIGINT) AS n,
           CAST(greatest(ku.k_used, 0) AS BIGINT) AS k_used,
           round(h._h, 9) AS hill_h,
           CASE WHEN h._h > 0 THEN round(1.0 / h._h, 9) END AS hill_alpha
    FROM ku LEFT JOIN h USING (_g)
    ORDER BY {group_col}
    """


def corpus_profile_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    zipf_top_n: int = 200,
    hill_k: int = 50,
) -> dict:
    """One-call release data card: the corpus-audit battery as a single
    JSON-able dict — the report a curation pipeline publishes beside
    every snapshot (and the CLI surface ``profile-corpus`` prints).

    Sections (each bounded — nothing here scales with the corpus):
      * ``totals`` — docs, whitespace tokens, exact-duplicate rate (x55)
      * ``sources`` — per-source doc/token counts and shares, mean
        code-likeness and code-rate (x133's signal aggregated)
      * ``zipf`` — per-source Zipf slope/R² (x129)
      * ``diversity`` — per-source distinct-1/distinct-2 (x132)
      * ``length_tail`` — per-source Hill tail index over char lengths
        (x134)

    100 TB shape: the battery is 5 independent bounded-output jobs over
    the same scan — each individual op's plan is the registry entry's
    (all oracle-verified); the report only collects ≤ |sources| rows
    per section."""
    from ..functions import text as tx
    from ..operators.ngrams import distinct_ngram_diversity

    t = F.col(text_col)
    totals_row = df.select(
        F.md5(t).alias("_dg"), F.size(tokens(t)).alias("_nw")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nw").alias("n_tokens"),
        F.round(
            1.0 - F.count_distinct("_dg").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("exact_dup_rate"),
    ).collect()[0]

    src = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens(t))).alias("n_tokens"),
            F.round(F.avg(tx.code_likeness(t)), 6).alias("mean_code_score"),
            F.round(
                F.avg((tx.code_likeness(t) > 0.5).cast("double")), 6
            ).alias("code_rate"),
        )
        .orderBy("source")
        .collect()
    )
    n_docs_total = int(totals_row["n_docs"]) or 1
    zipf = zipf_fit(df, source_col, text_col, zipf_top_n).collect()
    div = distinct_ngram_diversity(df, source_col, text_col).collect()
    hill = hill_tail_index(
        df.select(
            F.col(source_col), F.length(t).alias("_len")
        ),
        source_col,
        "_len",
        k=hill_k,
    ).collect()
    return {
        "totals": {
            "n_docs": int(totals_row["n_docs"]),
            "n_tokens": int(totals_row["n_tokens"] or 0),
            "exact_dup_rate": float(totals_row["exact_dup_rate"] or 0.0),
        },
        "sources": [
            {
                "source": r["source"],
                "n_docs": int(r["n_docs"]),
                "doc_share": round(r["n_docs"] / n_docs_total, 6),
                "n_tokens": int(r["n_tokens"] or 0),
                "mean_code_score": float(r["mean_code_score"] or 0.0),
                "code_rate": float(r["code_rate"] or 0.0),
            }
            for r in src
        ],
        "zipf": [
            {
                "source": r[source_col], "n_terms": int(r["n_terms"]),
                "slope": r["slope"], "r2": r["r2"],
            }
            for r in zipf
        ],
        "diversity": [
            {
                "source": r[source_col],
                "distinct_1": r["distinct_1"],
                "distinct_2": r["distinct_2"],
            }
            for r in div
        ],
        "length_tail": [
            {
                "source": r[source_col], "n": int(r["n"]),
                "k_used": int(r["k_used"]), "hill_alpha": r["hill_alpha"],
            }
            for r in hill
        ],
    }


def score_auc(
    df: DataFrame,
    group_col: str,
    score_col,
    label_col,
) -> DataFrame:
    """Per-group AUC of a score against a binary label — the scalar
    companion to x74's calibration curve and the standard filter-
    development metric (is the quality score actually ranking the
    positive class higher?): computed as the Mann–Whitney U statistic
    with the average-rank tie correction,

        AUC = (Σ ranks(pos) − P(P+1)/2) / (P·N)

    Cross-engine EXACTNESS by construction: average ranks are
    half-integers, so the op carries 2×rank as pure BIGINT arithmetic
    (R2 = Σ n_pos·(2·cum_before + n + 1) over distinct score values)
    and evaluates AUC = (R2 − P(P+1)) / (2·P·N) with ONE final
    division of exact integers — no rounding discipline needed beyond
    the presentation round-9. Groups lacking both classes report NULL.

    ``score_col`` / ``label_col`` may be column names or Column
    expressions (label must evaluate to boolean).

    100 TB shape: one (group, score) aggregation (map-side combined —
    work ∝ distinct scores, not rows), a per-GROUP cumulative window
    over that bounded frame, and a ≤|groups| final agg."""
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    counts = (
        df.select(
            F.col(group_col).alias("_g"),
            score.alias("_v"),
            label.cast("int").alias("_y"),
        )
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_c"), F.sum("_y").alias("_cb"))
    )
    return _auc_eval(counts).select(
        F.col("_g").alias(group_col),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        "auc",
    ).orderBy(group_col)


def duck_score_auc_sql(
    table: str, group_col: str, score_sql: str, label_sql: str
) -> str:
    """DuckDB mirror of :func:`score_auc` — identical integer rank
    arithmetic and the single final division."""
    return f"""
    WITH g AS (
      SELECT {group_col} AS _g, {score_sql} AS _s,
             count(*) AS _n,
             sum(CAST({label_sql} AS INT)) AS _np
      FROM {table} GROUP BY _g, _s
    ),
    ranked AS (
      SELECT _g, _n, _np,
             coalesce(sum(_n) OVER (
               PARTITION BY _g ORDER BY _s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS _cum
      FROM g
    ),
    agg AS (
      SELECT _g, sum(_n) AS n, sum(_np) AS n_pos,
             sum(_np * (2 * _cum + _n + 1)) AS _r2
      FROM ranked GROUP BY _g
    )
    SELECT _g AS {group_col},
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           CASE WHEN n_pos > 0 AND n - n_pos > 0
                THEN round(CAST(_r2 - n_pos * (n_pos + 1) AS DOUBLE)
                           / (2.0 * CAST(n_pos * (n - n_pos) AS DOUBLE)), 9)
           END AS auc
    FROM agg ORDER BY {group_col}
    """


def ks_drift(
    df: DataFrame,
    group_col: str,
    score_col,
    decimals: int = 3,
) -> DataFrame:
    """Per-group two-sample Kolmogorov–Smirnov drift gate: the sup-gap
    between each group's score ECDF and the REST-of-corpus ECDF —
    "which source's score distribution no longer looks like everyone
    else's", the distribution-shape alarm beside x67's binned KL (KL
    needs a bin design and saturates on disjoint support; KS is the
    assumption-free sup metric drift monitors page on).

    Scores are quantized to ``decimals`` first (the test's resolution):
    the ECDF grid is then the ≤ 10^decimals·range distinct quantized
    values, so the (group × value) evaluation frame stays BOUNDED at
    any corpus size — the sup over a quantized ECDF equals the exact
    KS of the quantized distributions. The gap is evaluated at every
    grid value ACROSS the corpus (a group missing a value still steps
    the complement CDF there — skipping those points would understate
    the sup).

    Output: (group_col, n, ks DOUBLE round-9), ordered by group; NULL
    ks for a group that IS the whole corpus (empty complement).

    Cross-engine: quantized values group exactly; cumulative counts
    are integers; per-point gaps are single divisions of exact BIGINTs
    (IEEE-identical); one max + round-9.

    100 TB shape: one (group, value) exchange with map-side combine to
    the bounded count frame; the grid completion is a (≤ groups ×
    values) cross of two BOUNDED frames; windows run per group over
    grid rows only."""
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    q = F.round(score.cast("double"), decimals)
    # NULL scores carry no distribution mass: they must not count in a
    # group's n (the NULL grid value is unreachable through the
    # NULL-unsafe _v joins, so keeping them would leave the group ECDF
    # short of 1 and silently distort the sup-gap — r9 ADVICE #3).
    cnt = (
        df.select(F.col(group_col).alias("_g"), q.alias("_v"))
        .filter(F.col("_v").isNotNull())
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    grid = cnt.select("_v").distinct()
    groups = cnt.groupBy("_g").agg(F.sum("_c").alias("_ng"))
    tot = cnt.agg(F.sum("_c").alias("_nt"))
    vals = cnt.groupBy("_v").agg(F.sum("_c").alias("_cv"))
    full = (
        groups.crossJoin(grid)
        .join(cnt, ["_g", "_v"], "left")
        .withColumn("_c", F.coalesce("_c", F.lit(0)))
        .join(F.broadcast(vals), "_v")
        .crossJoin(F.broadcast(tot))
    )
    w = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stepped = full.select(
        "_g", "_ng", "_nt",
        F.sum("_c").over(w).alias("_cumg"),
        F.sum("_cv").over(w).alias("_cumt"),
    )
    comp = F.col("_nt") - F.col("_ng")
    # try_divide: the empty-complement (single-group) case must reach
    # the NULL-ks branch, not an ANSI divide-by-zero
    gap = F.abs(
        F.col("_cumg").cast("double") / F.col("_ng").cast("double")
        - F.try_divide(
            (F.col("_cumt") - F.col("_cumg")).cast("double"),
            comp.cast("double"),
        )
    )
    return (
        stepped.groupBy("_g")
        .agg(
            F.first("_ng").alias("n"),
            F.when(
                F.first(comp) > 0, F.round(F.max(gap), 9)
            ).alias("ks"),
        )
        .select(
            F.col("_g").alias(group_col),
            F.col("n").cast("bigint").alias("n"),
            "ks",
        )
        .orderBy(group_col)
    )


def duck_ks_drift_sql(
    table: str, group_col: str, score_sql: str, decimals: int = 3
) -> str:
    """DuckDB mirror of :func:`ks_drift` — same quantized grid,
    integer cumulative counts, per-point IEEE gap, max, round-9."""
    return f"""
    WITH cnt AS (
      SELECT {group_col} AS _g,
             round(CAST({score_sql} AS DOUBLE), {int(decimals)}) AS _v,
             count(*) AS _c
      FROM {table}
      WHERE round(CAST({score_sql} AS DOUBLE), {int(decimals)}) IS NOT NULL
      GROUP BY _g, _v
    ),
    grid AS (SELECT DISTINCT _v FROM cnt),
    groups AS (SELECT _g, sum(_c) AS _ng FROM cnt GROUP BY _g),
    vals AS (SELECT _v, sum(_c) AS _cv FROM cnt GROUP BY _v),
    tot AS (SELECT sum(_c) AS _nt FROM cnt),
    gridded AS (
      SELECT g._g, g._ng, gr._v,
             coalesce(c._c, 0) AS _c, v._cv, t._nt
      FROM groups g CROSS JOIN grid gr
      LEFT JOIN cnt c ON c._g = g._g AND c._v = gr._v
      JOIN vals v ON v._v = gr._v
      CROSS JOIN tot t
    ),
    stepped AS (
      SELECT _g, _ng, _nt,
             sum(_c) OVER (
               PARTITION BY _g ORDER BY _v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS _cumg,
             sum(_cv) OVER (
               PARTITION BY _g ORDER BY _v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS _cumt
      FROM gridded
    )
    SELECT _g AS {group_col},
           CAST(any_value(_ng) AS BIGINT) AS n,
           CASE WHEN any_value(_nt - _ng) > 0
                THEN round(max(abs(
                       CAST(_cumg AS DOUBLE) / CAST(_ng AS DOUBLE)
                       - CAST(_cumt - _cumg AS DOUBLE)
                         / CAST(_nt - _ng AS DOUBLE))), 9)
           END AS ks
    FROM stepped GROUP BY _g ORDER BY {group_col}
    """


def roc_points(
    df: DataFrame,
    score_col,
    label_col,
    decimals: int | None = None,
) -> DataFrame:
    """ROC curve POINTS for a score against a binary label — the
    curve-shaped companion to x135's scalar AUC (a filter developer
    reads the operating point off this, not off one number): for every
    distinct quantized score t (predict positive when score ≥ t),
    TP/FP counts and TPR/FPR rates.

    Output: (thr, tp, fp, tpr, fpr) ordered by thr — counts BIGINT
    (exact), rates round-9 doubles (one IEEE division each, NULL when
    the class is empty). NULL scores are excluded (no mass — the x137
    rule).

    ``decimals=None`` (the oracle-checked default) grids on the RAW
    distinct score doubles — engine-bitwise-identical when the score
    expression is mirrored, with no quantization boundary at all; pass
    an int to coarsen the curve when distinct raw scores are unbounded
    (accepting the documented cross-engine half-boundary of round()).

    100 TB shape: ONE (value) aggregation with map-side combine (work
    ∝ distinct [quantized] scores), a descending cumulative window
    over that bounded frame, two ≤1-row class totals carried by the
    same frame."""
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    v = score.cast("double")
    if decimals is not None:
        v = F.round(v, decimals)
    cnt = (
        df.select(
            v.alias("_v"),
            label.cast("int").alias("_y"),
        )
        .filter(F.col("_v").isNotNull())
        .groupBy("_v")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_y").alias("_np"),
        )
    )
    wge = (
        Window.orderBy(F.col("_v").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    pts = cnt.select(
        F.col("_v").alias("thr"),
        F.sum("_np").over(wge).alias("tp"),
        (F.sum("_n").over(wge) - F.sum("_np").over(wge)).alias("fp"),
        F.sum("_np").over(wall).alias("_P"),
        (F.sum("_n").over(wall) - F.sum("_np").over(wall)).alias("_N"),
    )
    return pts.select(
        "thr",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.when(
            F.col("_P") > 0,
            F.round(F.col("tp").cast("double") / F.col("_P").cast("double"), 9),
        ).alias("tpr"),
        F.when(
            F.col("_N") > 0,
            F.round(F.col("fp").cast("double") / F.col("_N").cast("double"), 9),
        ).alias("fpr"),
    ).orderBy("thr")


def duck_roc_sql(
    table: str, score_sql: str, label_sql: str,
    decimals: int | None = None,
) -> str:
    """DuckDB mirror of :func:`roc_points` — same grid (raw doubles by
    default), integer descending cums, one IEEE division per rate."""
    v = f"CAST({score_sql} AS DOUBLE)"
    if decimals is not None:
        v = f"round({v}, {int(decimals)})"
    return f"""
    WITH cnt AS (
      SELECT {v} AS _v,
             count(*) AS _n, sum(CAST({label_sql} AS INT)) AS _np
      FROM {table}
      WHERE {v} IS NOT NULL
      GROUP BY _v
    ),
    pts AS (
      SELECT _v AS thr,
             sum(_np) OVER (ORDER BY _v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(_n) OVER (ORDER BY _v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - sum(_np) OVER (ORDER BY _v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             sum(_np) OVER () AS _P,
             sum(_n) OVER () - sum(_np) OVER () AS _N
      FROM cnt
    )
    SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CASE WHEN _P > 0
                THEN round(CAST(tp AS DOUBLE) / CAST(_P AS DOUBLE), 9)
           END AS tpr,
           CASE WHEN _N > 0
                THEN round(CAST(fp AS DOUBLE) / CAST(_N AS DOUBLE), 9)
           END AS fpr
    FROM pts ORDER BY thr
    """


# --- count-table statistics: one evaluation per statistic -------------------
# Good–Turing, Gini, OOV and AUC are pure functions of additive integer
# count tables. Each has ONE private evaluation over its table; the batch
# operator evaluates the table of its own corpus, the frozen-baseline
# gate evaluates the batch's table merged with the frozen one
# (:func:`_merge_counts`), so gate/batch parity holds by construction.


def _token_counts(df: DataFrame, group_col: str | None, text_col: str):
    """(_g, _t, _c): occurrences of each whitespace token per group —
    the one (group, token) explode-and-count every vocabulary statistic
    reads. ``group_col=None`` counts per token over the whole frame."""
    g = [] if group_col is None else [F.col(group_col).alias("_g")]
    toks = df.select(*g, F.explode(F.split(F.col(text_col), " ")).alias("_t"))
    return toks.groupBy(*toks.columns).agg(F.count(F.lit(1)).alias("_c"))


def _source_mass(df: DataFrame, group_col: str, text_col: str):
    """(_g, _c): token mass per group — the Gini Lorenz table."""
    return (
        df.select(
            F.col(group_col).alias("_g"),
            F.size(F.split(F.col(text_col), " ")).alias("_m"),
        )
        .groupBy("_g")
        .agg(F.sum("_m").alias("_c"))
    )


def _value_counts(df: DataFrame, group_col: str, score_col, decimals):
    """(_g, _v, _c): rows per distinct (group, score value), the score
    cast to double and rounded to ``decimals`` when given; NULL scores
    are excluded (they carry no distribution mass)."""
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    v = score.cast("double")
    if decimals is not None:
        v = F.round(v, decimals)
    return (
        df.select(F.col(group_col).alias("_g"), v.alias("_v"))
        .filter(F.col("_v").isNotNull())
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
    )


def _merge_counts(batch: DataFrame, frozen: DataFrame, keys: list[str]):
    """Full-outer integer-add merge of two additive count tables
    (*keys, _c): (*keys, _c = batch + frozen, _cb = the batch's own
    count), a side missing a key counting 0 — so the merged table is
    exactly the count table of history ∪ batch."""
    cb = F.coalesce("_c", F.lit(0))
    return batch.join(
        frozen.withColumnRenamed("_c", "_cf"), keys, "full"
    ).select(
        *keys, (cb + F.coalesce("_cf", F.lit(0))).alias("_c"), cb.alias("_cb")
    )


def _ratio9(num: str, den: str):
    """round(num / den, 9) over two exact integer columns — the one IEEE
    division each count-table statistic ends in."""
    return F.round(F.col(num).cast("double") / F.col(den).cast("double"), 9)


def _gt_eval(cnt: DataFrame, group_col: str) -> DataFrame:
    """Good–Turing f₁/N per group over a (_g, _t, _c) token-count
    table: (group_col, n_tokens, vocab, singletons, unseen_mass)."""
    agg = cnt.groupBy("_g").agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("singletons"),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("vocab").cast("bigint").alias("vocab"),
        F.col("singletons").cast("bigint").alias("singletons"),
        _ratio9("singletons", "n_tokens").alias("unseen_mass"),
    ).orderBy(group_col)


def _gini_eval(mass: DataFrame) -> DataFrame:
    """Exact sorted-cumulative Gini over a (_g, _c) mass table, sources
    ranked by (mass, source): (n_sources, total_tokens, gini)."""
    w = Window.orderBy(F.col("_c").asc(), F.col("_g").asc())
    agg = mass.withColumn("_i", F.row_number().over(w)).agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("_c").alias("total_tokens"),
        F.sum(F.col("_i") * F.col("_c")).alias("_ix"),
    )
    n = F.col("n_sources")
    tot = F.col("total_tokens")
    gini = (
        (F.lit(2) * F.col("_ix") - (n + 1) * tot).cast("double")
        / (n * tot).cast("double")
    )
    return agg.select(
        n.cast("bigint").alias("n_sources"),
        tot.cast("bigint").alias("total_tokens"),
        F.when(tot > 0, F.round(gini, 9)).alias("gini"),
    )


def _vocab_topn(cnt: DataFrame, top_n: int) -> DataFrame:
    """(_t): the ``top_n`` tokens of a (_t, _c) count table under the
    deterministic (count DESC, token ASC) rank."""
    w = Window.orderBy(F.col("_c").desc(), F.col("_t").asc())
    return (
        cnt.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(top_n))
        .select("_t")
    )


def _oov_eval(cnt: DataFrame, vocab: DataFrame, group_col: str):
    """Per-group OOV occurrence rate of a (_g, _t, _c) token-count
    table against a (_t) vocabulary: (group_col, n_tokens,
    oov_occurrences, oov_rate). The caller decides whether ``vocab``
    is broadcast."""
    flagged = cnt.join(vocab.withColumn("_in", F.lit(1)), "_t", "left")
    agg = flagged.groupBy("_g").agg(
        F.sum("_c").alias("n_tokens"),
        F.sum(F.when(F.col("_in").isNull(), F.col("_c")).otherwise(0)).alias(
            "oov_occurrences"
        ),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("oov_occurrences").cast("bigint").alias("oov_occurrences"),
        _ratio9("oov_occurrences", "n_tokens").alias("oov_rate"),
    ).orderBy(group_col)


def _auc_eval(counts: DataFrame) -> DataFrame:
    """Mann–Whitney AUC per group over a (_g, _v, _c, _cb) table — rows
    and positive rows per distinct value — as (_g, n, n_pos, auc):
    R2 = Σ_v n_pos(v)·(2·cum_before(v) + n(v) + 1) is twice the
    positives' average-rank sum in exact BIGINTs, and
    AUC = (R2 − P(P+1)) / (2·P·N) is the one division. R2 − P(P+1)
    equals the U-statistic numerator Σ_v n_pos(v)·(2·neg_before(v) +
    neg(v)) exactly, so a gate that counts negatives from a frozen
    baseline evaluates the same formula. A NULL score ranks last, as
    in the DuckDB mirror's ``ORDER BY _s``. NULL auc unless both
    classes are present."""
    w = (
        Window.partitionBy("_g")
        .orderBy(F.col("_v").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("_c").over(w), F.lit(0))
    agg = counts.withColumn("_cum", cum).groupBy("_g").agg(
        F.sum("_c").alias("n"),
        F.sum("_cb").alias("n_pos"),
        F.sum(
            F.col("_cb") * (F.lit(2) * F.col("_cum") + F.col("_c") + 1)
        ).alias("_r2"),
    )
    p_ = F.col("n_pos")
    n_ = F.col("n") - F.col("n_pos")
    auc = (F.col("_r2") - p_ * (p_ + 1)).cast("double") / (
        F.lit(2.0) * (p_ * n_).cast("double")
    )
    return agg.select(
        "_g", "n", "n_pos",
        F.when((p_ > 0) & (n_ > 0), F.round(auc, 9)).alias("auc"),
    )


def good_turing_unseen(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Per-group GOOD–TURING missing-mass estimate (Good 1953): the
    probability that the NEXT token drawn from each source is a type
    never seen in it — f₁/N (singleton types over token count), the
    classic coverage answer to "have we crawled enough of this source
    for its vocabulary to be representative?" (unseen_mass → 0 =
    saturated; high = the corpus still misses this source's tail — the
    coverage gauge beside x132's distinct-n diversity and x129's Zipf
    shape).

    Output: (group_col, n_tokens, vocab, singletons, unseen_mass
    round-9) — the first three exact BIGINTs, one IEEE division.

    100 TB shape: ONE (group, token) exchange with map-side combine
    (the x129/x132 vocab-bounded frame), then a ≤|groups| agg."""
    return _gt_eval(_token_counts(df, group_col, text_col), group_col)


def duck_good_turing_sql(table: str, group_col: str, text_col: str) -> str:
    """DuckDB mirror of :func:`good_turing_unseen`."""
    return f"""
    WITH cnt AS (
      SELECT _g, _t, count(*) AS _c FROM (
        SELECT {group_col} AS _g,
               unnest(string_split({text_col}, ' ')) AS _t
        FROM {table}
      ) GROUP BY _g, _t
    ),
    agg AS (
      SELECT _g, sum(_c) AS n_tokens, count(*) AS vocab,
             sum(CASE WHEN _c = 1 THEN 1 ELSE 0 END) AS singletons
      FROM cnt GROUP BY _g
    )
    SELECT _g AS {group_col},
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST(singletons AS BIGINT) AS singletons,
           round(CAST(singletons AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9)
             AS unseen_mass
    FROM agg ORDER BY {group_col}
    """


def source_gini(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """GINI COEFFICIENT of token-mass concentration across sources —
    the one-number "is this corpus a monoculture" gauge a mixture
    designer (x16/x85/x108/x117 quota family) reads before choosing
    weights: 0 = every source contributes equal token mass, → 1 = one
    source dominates. Computed by the exact sorted-cumulative formula
    G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over sources ordered by
    (mass, source) — ties contribute identically under any tie order,
    so the rank is deterministic. All-integer arithmetic to ONE final
    division (round-9).

    Output: one row (n_sources, total_tokens, gini).

    100 TB shape: one (group) exchange to a ≤|sources| frame; the rank
    window and final agg run on that bounded frame."""
    return _gini_eval(_source_mass(df, group_col, text_col))


def duck_gini_sql(table: str, group_col: str, text_col: str) -> str:
    """DuckDB mirror of :func:`source_gini` — same deterministic rank,
    same integer arithmetic to one division."""
    return f"""
    WITH mass AS (
      SELECT {group_col} AS _g,
             sum(len(string_split({text_col}, ' '))) AS _x
      FROM {table} GROUP BY _g
    ),
    ranked AS (
      SELECT _g, _x,
             row_number() OVER (ORDER BY _x ASC, _g ASC) AS _i
      FROM mass
    ),
    agg AS (
      SELECT count(*) AS n_sources, sum(_x) AS total_tokens,
             sum(_i * _x) AS _ix
      FROM ranked
    )
    SELECT CAST(n_sources AS BIGINT) AS n_sources,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           CASE WHEN total_tokens > 0 THEN
             round(CAST(2 * _ix - (n_sources + 1) * total_tokens AS DOUBLE)
                   / CAST(n_sources * total_tokens AS DOUBLE), 9)
           END AS gini
    FROM agg
    """


def oov_rate(
    df: DataFrame, group_col: str, text_col: str, top_n: int = 1000
) -> DataFrame:
    """Per-group OUT-OF-VOCABULARY rate against a FROZEN corpus
    vocabulary — the tokenizer-coverage question (what share of each
    source's token occurrences falls outside the corpus top-``top_n``
    types?) that decides whether a fixed vocab/tokenizer will shred a
    source into byte fallbacks. Vocabulary = top_n tokens by (count
    DESC, token ASC) — the x129/x136 deterministic rank.

    Output: (group_col, n_tokens, oov_occurrences, oov_rate round-9) —
    integers exact, one IEEE division.

    100 TB shape: ONE (group, token) exchange (vocab-bounded frame);
    the global vocab derives from the SAME frame by re-aggregation (no
    second corpus pass); rank window + joins run on bounded frames."""
    cnt = _token_counts(df, group_col, text_col)
    vocab = _vocab_topn(cnt.groupBy("_t").agg(F.sum("_c").alias("_c")), top_n)
    return _oov_eval(cnt, vocab, group_col)


def duck_oov_sql(
    table: str, group_col: str, text_col: str, top_n: int = 1000
) -> str:
    """DuckDB mirror of :func:`oov_rate` — same deterministic vocab
    rank, same integer sums."""
    return f"""
    WITH cnt AS (
      SELECT _g, _t, count(*) AS _c FROM (
        SELECT {group_col} AS _g,
               unnest(string_split({text_col}, ' ')) AS _t
        FROM {table}
      ) GROUP BY _g, _t
    ),
    gcnt AS (SELECT _t, sum(_c) AS _gc FROM cnt GROUP BY _t),
    vocab AS (
      SELECT _t FROM (
        SELECT _t, row_number() OVER (ORDER BY _gc DESC, _t ASC) AS _rk
        FROM gcnt
      ) WHERE _rk <= {int(top_n)}
    ),
    agg AS (
      SELECT c._g, sum(c._c) AS n_tokens,
             sum(CASE WHEN v._t IS NULL THEN c._c ELSE 0 END)
               AS oov_occurrences
      FROM cnt c LEFT JOIN vocab v ON c._t = v._t
      GROUP BY c._g
    )
    SELECT _g AS {group_col},
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(oov_occurrences AS BIGINT) AS oov_occurrences,
           round(CAST(oov_occurrences AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9)
             AS oov_rate
    FROM agg ORDER BY {group_col}
    """


def score_distribution_baseline(
    df: DataFrame,
    group_col: str,
    score_col,
    decimals: int | None = None,
) -> DataFrame:
    """FIT arm shared by the x135/x137 streaming gates (r9 verdict Next
    #6 — the x130/x67 fit-on-history / gate-the-stream discipline
    applied to the round-9 statistics family): freeze each group's
    score distribution from a HISTORY corpus as a slim per-group step
    function — (group_col, value DOUBLE, cum_le BIGINT, mass BIGINT,
    n BIGINT), one row per distinct (group, value). NULL scores are
    excluded (they carry no distribution mass — the x137 rule).

    ``decimals``: quantize values first (the KS gate's resolution;
    leave None for the AUC gate — MW ranks need the raw values).

    100 TB shape: one (group, value) exchange with map-side combine;
    the frame is bounded by distinct quantized values per group and is
    the broadcast side of every gate evaluation."""
    cnt = _value_counts(df, group_col, score_col, decimals)
    w = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cnt.select(
        F.col("_g").alias(group_col),
        F.col("_v").alias("value"),
        F.sum("_c").over(w).alias("cum_le"),
        F.col("_c").alias("mass"),
        F.sum("_c").over(Window.partitionBy("_g")).alias("n"),
    )


def apply_auc_gate(
    df: DataFrame,
    baseline: DataFrame,
    group_col: str,
    score_col,
) -> DataFrame:
    """APPLY arm of the x135 AUC — Mann–Whitney AUC of the incoming
    rows' scores (the "positive" sample) against the FROZEN history
    distribution (the "negative" sample), per group: the batch's
    (group, value) counts merged with the baseline's ``mass`` by
    integer addition, evaluated by score_auc's own formula — so
    apply(pos rows, fit(neg rows)) ≡ score_auc(pos ∪ neg) over the
    rows with non-NULL scores, by construction (parity-tested). NULL
    scores are excluded on both sides (score_auc ranks them). Output:
    (group_col, n, auc round-9); NULL auc when the group is absent
    from the baseline. Runs per micro-batch under foreachBatch — the
    aggregation is per-group over the bounded merged frame."""
    base = baseline.select(
        F.col(group_col).alias("_g"),
        F.col("value").alias("_v"),
        F.col("mass").alias("_c"),
    )
    counts = _merge_counts(
        _value_counts(df, group_col, score_col, None), base, ["_g", "_v"]
    )
    return (
        _auc_eval(counts)
        .filter(F.col("n_pos") > 0)
        .select(
            F.col("_g").alias(group_col),
            F.col("n_pos").cast("bigint").alias("n"),
            "auc",
        )
        .orderBy(group_col)
    )


def apply_ks_gate(
    df: DataFrame,
    baseline: DataFrame,
    group_col: str,
    score_col,
    decimals: int = 3,
) -> DataFrame:
    """APPLY arm of the x137 KS gate: sup-gap between the incoming
    rows' score ECDF and the FROZEN history ECDF, per group, evaluated
    at every merged grid value (a group missing a value still steps the
    other side's CDF there — skipping would understate the sup, the
    ks_drift rule). Integer cumulative counts, per-point IEEE gaps, one
    max + round-9 — on the fitting corpus, apply(group rows,
    fit(complement rows)) ≡ the batch ``ks_drift`` row for that group
    EXACTLY (parity-tested). Output: (group_col, n, ks round-9); NULL
    ks when the baseline lacks the group. foreachBatch-shaped, bounded
    per-group frames."""
    base = baseline.select(
        F.col(group_col).alias("_g"),
        F.col("value").alias("_v"),
        "cum_le",
        "n",
    )
    m = _value_counts(df, group_col, score_col, decimals).join(
        base, ["_g", "_v"], "full"
    )
    wcum = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # window-fill the baseline's step function (cum_le at the greatest
    # baseline value ≤ each merged grid value) beside the batch's own
    stepped = (
        m.withColumn(
            "_base_cum",
            F.coalesce(
                F.last("cum_le", ignorenulls=True).over(wcum), F.lit(0)
            ),
        )
        .withColumn("_np", F.coalesce("_c", F.lit(0)))
        .withColumn(
            "_base_n",
            F.first("n", ignorenulls=True).over(Window.partitionBy("_g")),
        )
        .withColumn("_bcum", F.sum("_np").over(wcum))
        .withColumn("_ng", F.sum("_np").over(Window.partitionBy("_g")))
    )
    gap = F.abs(
        F.col("_bcum").cast("double") / F.col("_ng").cast("double")
        - F.col("_base_cum").cast("double")
        / F.col("_base_n").cast("double")
    )
    agg = stepped.filter(F.col("_ng") > 0).groupBy("_g").agg(
        F.first("_ng").alias("n"),
        F.first("_base_n").alias("_nn"),
        F.max(gap).alias("_ks"),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("bigint").alias("n"),
        F.when(
            F.col("_nn").isNotNull() & (F.col("_nn") > 0),
            F.round("_ks", 9),
        ).alias("ks"),
    ).orderBy(group_col)


def _spectrum_metrics(n: int, sum_x, sum_xx, dim: int) -> dict:
    """Shared sums→metrics step for the spectrum audit (BOTH the Spark
    arm and the DuckDB oracle call this with bit-identical exact
    decimal sums, so every derived float is computed once by the same
    numpy code on the same doubles): covariance eigenspectrum +
    anisotropy summaries."""
    import numpy as np

    mu = np.array([float(s) / n for s in sum_x], dtype=np.float64)
    # sum_xx is the ROW-MAJOR UPPER TRIANGLE (i <= j) — reconstruct the
    # symmetric matrix (the triangle halves the exchange and the
    # per-row product expansion; E[xxT] is symmetric by definition)
    exx = np.empty((dim, dim), dtype=np.float64)
    k = 0
    for i in range(dim):
        for j in range(i, dim):
            v = float(sum_xx[k]) / n
            exx[i, j] = v
            exx[j, i] = v
            k += 1
    cov = exx - np.outer(mu, mu)
    lam = np.linalg.eigvalsh((cov + cov.T) / 2.0)
    lam = np.clip(lam, 0.0, None)
    tot = float(lam.sum())
    p = lam / tot if tot > 0 else lam
    nz = p[p > 0]
    eff_rank = float(np.exp(-(nz * np.log(nz)).sum())) if tot > 0 else 0.0
    mean_sq_norm = float(exx.trace())
    return {
        "n": int(n),
        "dim": int(dim),
        "total_var": round(tot, 9),
        "top1_share": round(float(lam[-1]) / tot, 9) if tot > 0 else None,
        "top8_share": round(float(lam[-8:].sum()) / tot, 9)
        if tot > 0 else None,
        "effective_rank": round(eff_rank, 9),
        "mean_sq_norm": round(mean_sq_norm, 9),
        "centroid_share": round(float(mu @ mu) / mean_sq_norm, 9)
        if mean_sq_norm > 0 else None,
    }


_SPECTRUM_COLS = (
    "n", "dim", "total_var", "top1_share", "top8_share",
    "effective_rank", "mean_sq_norm", "centroid_share",
)


def embedding_spectrum_audit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    id_col: str | None = None,
    max_fit: int | None = None,
) -> dict:
    """Embedding-SPACE spectrum audit (driver-side dict): covariance
    eigenstructure + anisotropy of the corpus embedding distribution —
    the health check before trusting cosine geometry (Ethayarajh 2019:
    contextual embedding spaces are often so anisotropic that cosines
    are dominated by one common direction). x68 audits each dimension
    ALONE (diagonal); this measures the off-diagonal structure those
    per-dim stats cannot see:

      * ``top1_share`` / ``top8_share`` — fraction of total variance in
        the top eigendirections (→ 1 = rogue common direction; ANN
        recall and clustering degrade),
      * ``effective_rank`` — exp of the spectral entropy (how many
        directions the space actually uses),
      * ``centroid_share`` — ‖μ‖²/E[‖x‖²], the mean-vector offset share
        (the classic "subtract the mean before cosine" trigger).

    Cross-engine EXACTNESS: per-value and per-product sums accumulate
    as DECIMAL(38,30) — LOSSLESS for |x| < 1e8 (a double's shortest
    repr carries ≤ 17 significant digits, all ≥ 1e-30 here), so unlike
    the round-12 discipline there is NO rounding boundary to disagree
    on; the oracle reproduces the identical decimals via DuckDB's
    VARCHAR-mediated cast (the x125 lesson) and both arms derive the
    eigenspectrum from the same exact sums via the same
    :func:`_spectrum_metrics`.

    100 TB shape: ONE in-row product expansion (dim² slim decimal
    values per row) into a BOUNDED dim²-key exchange with map-side
    combine — no joins, no driver data besides the 4 KB sums frame. At
    corpus scale fit on a deterministic hash-ordered sample (the
    quantizer-fit contract) — the audit is a distribution estimate,
    and the decimal sums make any fixed sample engine-reproducible."""
    if max_fit is not None:
        if id_col is None:
            raise ValueError("max_fit requires id_col for the hash order")
        # deterministic hash-total-order sample (the quantizer-fit
        # contract: engine-reproducible, so the oracle refits the SAME
        # rows) — bounds the dim^2 expansion at any corpus size
        df = (
            df.orderBy(
                F.md5(F.col(id_col).cast("string")),
                F.col(id_col).cast("string"),
            )
            .limit(int(max_fit))
        )
    # materialize the double array ONCE per row: element_at inside the
    # triangle lambdas would otherwise re-evaluate the float→double
    # array cast PER ELEMENT (measured: 13.5 s → 3.3 s at 2000×64 —
    # the cast made the dim² expansion effectively dim³)
    pre = df.select(
        F.expr(f"CAST({vec_col} AS ARRAY<DOUBLE>)").alias("_v")
    )
    prods = (
        f"flatten(transform(sequence(0, {dim - 1}), i -> "
        f"transform(sequence(i, {dim - 1}), j -> "
        f"CAST(element_at(_v, i + 1) * element_at(_v, j + 1) "
        f"AS DECIMAL(38,30)))))"
    )
    vals = "transform(_v, x -> CAST(x AS DECIMAL(38,30)))"
    _overflow_hint = (
        "embedding_spectrum_audit: DECIMAL(38,30) accumulator "
        "overflowed (a value, or a per-index sum of x_i or x_i*x_j, "
        "exceeded 1e8 in magnitude). Bound the fit with max_fit=... "
        "(the intended corpus-scale form) or normalize the embeddings "
        "before auditing."
    )
    # ONE action for both sum families (optimization r14, guide §1.2):
    # the product sums and the value sums previously ran as two separate
    # collects, each re-running the TakeOrdered sample pass — concat the
    # two per-row arrays (indices [0, dim(dim+1)/2) are products, the
    # tail is values) so one explode → one bounded-key exchange → one
    # collect produces byte-identical decimal sums (same addends, same
    # per-index grouping, same Spark decimal accumulation).
    n_pairs = dim * (dim + 1) // 2
    try:
        rows = (
            pre.select(
                F.posexplode(F.expr(f"concat({prods}, {vals})")).alias(
                    "_i", "_d"
                )
            )
            .groupBy("_i")
            .agg(F.sum("_d").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
    except Exception as exc:  # ANSI mode: the cast/sum throws 22003
        if "NUMERIC_VALUE_OUT_OF_RANGE" in str(
            exc
        ) or "ARITHMETIC_OVERFLOW" in str(exc):
            raise ValueError(_overflow_hint) from exc
        raise
    n = int(rows[0]["_n"])
    by_i = sorted(rows, key=lambda r: r["_i"])
    sum_xx = [r["_s"] for r in by_i[:n_pairs]]
    sum_x = [r["_s"] for r in by_i[n_pairs:]]
    # DECIMAL(38,30) leaves 8 integer digits; under non-ANSI mode a
    # decimal overflow yields NULL sums, which would surface far from
    # here as float(None). Fail loud at the cause instead (r9 ADVICE
    # #1; the ANSI-mode throw is translated in the except above).
    if any(s is None for s in sum_x) or any(s is None for s in sum_xx):
        raise ValueError(_overflow_hint)
    return _spectrum_metrics(n, sum_x, sum_xx, dim)


def duck_spectrum_sums(
    path: str,
    vec_col: str,
    dim: int,
    id_col: str | None = None,
    max_fit: int | None = None,
):
    """Oracle-arm twin of the Spark sums: identical DECIMAL(38,30)
    accumulation via the VARCHAR-mediated cast (DuckDB's direct
    double→decimal rounds the exact binary expansion; the VARCHAR hop
    reproduces Spark's shortest-repr cast bit-for-bit — measured in the
    x125 fix). Returns (n, sum_x, sum_xx) for :func:`_spectrum_metrics`."""
    import duckdb

    con = duckdb.connect()
    dec = "DECIMAL(38,30)"
    src = f"read_parquet('{path}')"
    if max_fit is not None:
        src = (
            f"(SELECT * FROM read_parquet('{path}') "
            f"ORDER BY md5(CAST({id_col} AS VARCHAR)), "
            f"CAST({id_col} AS VARCHAR) LIMIT {int(max_fit)})"
        )
    xx = con.execute(
        f"""
        SELECT _i, sum(_d) AS _s FROM (
          SELECT generate_subscripts(p, 1) - 1 AS _i, unnest(p) AS _d
          FROM (
            SELECT flatten([[CAST(CAST(
                     CAST({vec_col}[i + 1] AS DOUBLE)
                     * CAST({vec_col}[j + 1] AS DOUBLE) AS VARCHAR)
                   AS {dec})
                    for j in range(i, {dim})]
                   for i in range(0, {dim})]) AS p
            FROM {src}
          )
        ) GROUP BY _i ORDER BY _i
        """
    ).fetchall()
    xs = con.execute(
        f"""
        SELECT _i, sum(_d) AS _s, count(*) AS _n FROM (
          SELECT generate_subscripts(p, 1) - 1 AS _i, unnest(p) AS _d
          FROM (
            SELECT [CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS {dec})
                    for x in {vec_col}] AS p
            FROM {src}
          )
        ) GROUP BY _i ORDER BY _i
        """
    ).fetchall()
    n = int(xs[0][2])
    return n, [r[1] for r in xs], [r[1] for r in xx]


# ---------------------------------------------------------------------------
# Frozen-baseline arms for Good–Turing coverage, source-Gini concentration
# and OOV rate (the x130/x141/x153 fit/apply split): fit a slim count
# table on HISTORY, gate each micro-batch through the statistic's one
# evaluation (see the count-table section above).


def fit_token_counts(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """FIT arm shared by the Good–Turing gate (and reusable by any
    vocabulary statistic): freeze the per-(group, token) occurrence
    counts of a history corpus — (group_col, token, cnt). This is the
    statistic's ENTIRE sufficient state: counts are additive, so any
    later batch merges by integer addition and every downstream
    quantity (N, vocab, singletons) is exact. 100 TB shape: one
    (group, token) exchange with map-side combine; the frame is
    vocab-bounded (the x129/x132 law) and in production persists as
    the sketch-store-style stat table a stream maintains."""
    return _token_counts(df, group_col, text_col).select(
        F.col("_g").alias(group_col),
        F.col("_t").alias("token"),
        F.col("_c").alias("cnt"),
    )


def apply_good_turing_gate(
    df: DataFrame,
    baseline: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """APPLY arm of the x143 Good–Turing coverage gauge: merge the
    incoming batch's (group, token) counts with the FROZEN history
    counts by integer addition and evaluate f₁/N on the merged table
    through good_turing_unseen's own evaluation — so apply(batch,
    fit(history)) ≡ good_turing_unseen(history ∪ batch) by
    construction (parity-tested). Same output schema.

    foreachBatch-shaped: the merge is one (group, token) join bounded
    by |batch vocab| + |history vocab|; history rows never re-derive
    from text (the signature-store rule applied to token counts)."""
    base = baseline.select(
        F.col(group_col).alias("_g"),
        F.col("token").alias("_t"),
        F.col("cnt").alias("_c"),
    )
    batch = _token_counts(df, group_col, text_col)
    return _gt_eval(_merge_counts(batch, base, ["_g", "_t"]), group_col)


def fit_source_mass(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """FIT arm of the x146 Gini gate: per-source token mass —
    (group_col, mass BIGINT), the Lorenz table. ≤|sources| rows; mass
    is additive, so streaming maintenance is integer addition."""
    return _source_mass(df, group_col, text_col).select(
        F.col("_g").alias(group_col), F.col("_c").alias("mass")
    )


def apply_gini_gate(
    df: DataFrame,
    baseline: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """APPLY arm of the x146 concentration gauge: add the batch's
    per-source token mass to the FROZEN history masses and evaluate
    source_gini's own Gini on the merged ≤|sources| table, so
    apply(batch, fit(history)) ≡ source_gini(history ∪ batch) by
    construction (parity-tested). Same output schema."""
    base = baseline.select(
        F.col(group_col).alias("_g"), F.col("mass").alias("_c")
    )
    batch = _source_mass(df, group_col, text_col)
    return _gini_eval(_merge_counts(batch, base, ["_g"]))


def fit_vocab_topn(
    df: DataFrame, text_col: str, top_n: int = 1000
) -> DataFrame:
    """FIT arm of the x147 OOV gate: the frozen corpus top-``top_n``
    vocabulary — (token) rows under the deterministic (count DESC,
    token ASC) rank — the rank :func:`oov_rate` applies internally.
    ≤top_n rows — the broadcast side of every gate evaluation."""
    vocab = _vocab_topn(_token_counts(df, None, text_col), top_n)
    return vocab.select(F.col("_t").alias("token"))


def apply_oov_gate(
    df: DataFrame,
    vocab: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """APPLY arm of the x147 tokenizer-coverage gauge: per-group OOV
    occurrence rate of the incoming batch against a FROZEN vocabulary
    — the streaming question ("how much of today's crawl falls outside
    the tokenizer vocab we already shipped?"), where the batch op
    re-derives the vocab from the same corpus. Same rank rule and same
    evaluation as oov_rate, so apply(df, fit_vocab_topn(df)) ≡
    oov_rate(df) by construction (parity-tested). Same output
    schema."""
    frozen = F.broadcast(vocab.select(F.col("token").alias("_t")))
    return _oov_eval(_token_counts(df, group_col, text_col), frozen, group_col)


def duck_oov_frozen_sql(
    table: str,
    group_col: str,
    text_col: str,
    top_n: int,
    hist_pred: str,
    batch_pred: str,
) -> str:
    """DuckDB mirror of the FROZEN-vocab OOV gate: vocabulary ranked
    from the HISTORY slice only, OOV of the BATCH slice against it —
    the streaming split (x147's duck_oov_sql is the fit-on-self batch
    form)."""
    return f"""
    WITH hcnt AS (
      SELECT _t, count(*) AS _gc FROM (
        SELECT unnest(string_split({text_col}, ' ')) AS _t
        FROM {table} WHERE {hist_pred}
      ) GROUP BY _t
    ),
    vocab AS (
      SELECT _t FROM (
        SELECT _t, row_number() OVER (ORDER BY _gc DESC, _t ASC) AS _rk
        FROM hcnt
      ) WHERE _rk <= {int(top_n)}
    ),
    cnt AS (
      SELECT _g, _t, count(*) AS _c FROM (
        SELECT {group_col} AS _g,
               unnest(string_split({text_col}, ' ')) AS _t
        FROM {table} WHERE {batch_pred}
      ) GROUP BY _g, _t
    ),
    agg AS (
      SELECT c._g, sum(c._c) AS n_tokens,
             sum(CASE WHEN v._t IS NULL THEN c._c ELSE 0 END)
               AS oov_occurrences
      FROM cnt c LEFT JOIN vocab v ON c._t = v._t
      GROUP BY c._g
    )
    SELECT _g AS {group_col},
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(oov_occurrences AS BIGINT) AS oov_occurrences,
           round(CAST(oov_occurrences AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9)
             AS oov_rate
    FROM agg ORDER BY {group_col}
    """
