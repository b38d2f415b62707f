"""Built-in tasks: the rule patterns shipped with the reference,
declaratively parameterized so pipeline JSON can use them without writing
Python (the reference requires compiling a Go plugin for each).

Every built-in compiles to pure Column expressions — a pipeline composed
of built-ins is fully Catalyst-optimizable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import filters, project
from .protocol import BasicTask
from .registry import register_task


def _flag_rows(df, options, value, alias, cond, flag):
    """Shared tail of the row gates: append ``round(value, 9)`` as
    ``alias`` and ``cond`` as the boolean ``flag`` (a NULL condition is
    not flagged, so unseen keys and NULL values pass); with the option
    ``mode='drop'`` keep only the unflagged rows, without the two
    columns (default ``mode='flag'``)."""
    flagged = df.select(
        "*",
        F.round(value, 9).alias(alias),
        F.coalesce(cond, F.lit(False)).alias(flag),
    )
    if options.get("mode", "flag") == "drop":
        return flagged.filter(~F.col(flag)).drop(alias, flag)
    return flagged


def _per_key(key_col, values):
    """One CASE over a bounded key set: ``values[key]`` where
    ``key_col`` equals the key, NULL for any other key (or when
    ``values`` is empty)."""
    out = None
    for k, v in values.items():
        cond = F.col(key_col) == k
        out = F.when(cond, v) if out is None else out.when(cond, v)
    return F.lit(None).cast("double") if out is None else out


@register_task("filter_eq")
class FilterEq(BasicTask):
    """≡ `testdata/rules/a.go:12-18` (Str == "a"). Options: column, value."""

    def apply(self, df: DataFrame) -> DataFrame:
        return filters.eq_filter(df, self.options["column"], self.options["value"])


@register_task("filter_length")
class FilterLength(BasicTask):
    """≡ `testdata/rules/length.go:12-18` (len(Str) == 1).
    Options: column, length (exact) or max_length (INCLUSIVE upper bound,
    as the name says)."""

    def apply(self, df: DataFrame) -> DataFrame:
        col = self.options["column"]
        if "length" in self.options:
            return filters.length_filter(df, col, eq=self.options["length"])
        return filters.length_filter(df, col, lt=self.options["max_length"] + 1)


@register_task("filter_regex")
class FilterRegex(BasicTask):
    """≡ `domain_cert_issued.go:19,40`. Options: column, pattern."""

    def apply(self, df: DataFrame) -> DataFrame:
        return filters.regex_filter(df, self.options["column"], self.options["pattern"])


@register_task("filter_array_exists")
class FilterArrayExists(BasicTask):
    """≡ the AllDomains loop (`domain_cert_issued.go:39-41`).
    Options: column (array<string>), pattern."""

    def apply(self, df: DataFrame) -> DataFrame:
        return filters.array_exists_filter(
            df, F.col(self.options["column"]), self.options["pattern"]
        )


@register_task("select")
class Select(BasicTask):
    """Projection/rename ≡ the OutputEvent construction pattern
    (`cloudTrail_s2s_join.go:80-96`). Options: exprs = {alias: SQL expr}."""

    def apply(self, df: DataFrame) -> DataFrame:
        return df.select(
            *[F.expr(e).alias(a) for a, e in dict(self.options["exprs"]).items()]
        )


@register_task("derive_principal")
class DerivePrincipal(BasicTask):
    """≡ generatePrincipalName (`cloudTrail_s2s_join.go:98-130`).
    Options: kind_column, id_column, mapping {kind: prefix}, alias."""

    def apply(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.options.get("alias", "principal"),
            project.principal_name(
                F.col(self.options["kind_column"]),
                F.col(self.options["id_column"]),
                dict(self.options["mapping"]),
            ),
        )


@register_task("passthrough")
class Passthrough(BasicTask):
    """Identity — useful as a named fan-out junction."""

    def apply(self, df: DataFrame) -> DataFrame:
        return df


@register_task("gopher_gate")
class GopherGate(BasicTask):
    """Curation rule gate (x42): keep documents passing every Gopher/
    MassiveText heuristic rule (functions/text.GOPHER_THRESHOLDS). Pure
    per-row expression — works identically in batch and streaming
    pipelines. Options: column (text column, default 'text')."""

    def apply(self, df: DataFrame) -> DataFrame:
        from ..functions import text as tx

        col = self.options.get("column", "text")
        return df.filter(tx.gopher_keep(tx.gopher_flags(tx.gopher_metrics(col))))


@register_task("pii_scrub")
class PiiScrub(BasicTask):
    """Curation scrubber (x23): replace emails/IPs/phones with typed
    placeholders, in the fixed PII_PATTERNS order. Options: column
    (default 'text'), alias (default: overwrite the column)."""

    def apply(self, df: DataFrame) -> DataFrame:
        from ..functions import text as tx

        col = self.options.get("column", "text")
        return df.withColumn(self.options.get("alias", col), tx.scrub_pii(col))


@register_task("bm25_gate")
class Bm25Gate(BasicTask):
    """Curation topic gate (x57's streaming form): keep documents whose
    BM25 score against a configured term recipe clears a floor. Stats
    (N, avgdl, per-term df) come FROZEN from the task config — fit them
    once on history with retrieval.fit_bm25_stats — so the gate is a
    pure per-row expression and runs identically in batch and streaming
    pipelines. The gate is ROW-PRESERVING: it appends the score and
    match-count columns to the full input row (``df("*")`` + exprs) and
    filters, so chaining it before another rule (pii_scrub, a sink) keeps
    the documents — the same contract as the sibling gopher_gate.
    Options: terms [..], stats {N, avgdl, df{term:n}}, min_score
    (default 0.0), column (default 'text'), alias (score column, default
    'bm25'; the match count lands in '<alias>_n_terms')."""

    def apply(self, df: DataFrame) -> DataFrame:
        from ..operators.retrieval import bm25_score_exprs

        col = self.options.get("column", "text")
        n_matched, score = bm25_score_exprs(
            col, dict(self.options["stats"]), list(self.options["terms"])
        )
        alias = self.options.get("alias", "bm25")
        return (
            df.select("*", n_matched.alias(f"{alias}_n_terms"), score.alias(alias))
            .where(F.col(col).isNotNull() & (F.col(f"{alias}_n_terms") > 0))
            .filter(F.col(alias) >= float(self.options.get("min_score", 0.0)))
        )


@register_task("decontam_gate")
class DecontamGate(BasicTask):
    """Curation leakage gate (x21's streaming form): DROP documents
    sharing ≥ min_hits word-k-shingles with a configured benchmark
    shingle set — fit once on the static eval corpus with
    decontam.fit_eval_shingles, frozen into the task config, so the gate
    is a pure per-row array_intersect count and runs identically in
    batch and streaming pipelines. ROW-PRESERVING like gopher_gate /
    bm25_gate: survivors keep every input column. NULL text has no
    shingles and passes (it can't leak). Options: shingles [..],
    k (default 3), min_hits (default 1), column (default 'text')."""

    def apply(self, df: DataFrame) -> DataFrame:
        from ..operators.decontam import contamination_hits_expr

        n = contamination_hits_expr(
            self.options.get("column", "text"),
            list(self.options["shingles"]),
            int(self.options.get("k", 3)),
        )
        return df.filter(
            F.coalesce(n, F.lit(0)) < int(self.options.get("min_hits", 1))
        )


@register_task("bloom_gate")
class BloomGate(BasicTask):
    """CONSERVATIVE leakage gate at benchmark scale (x173's streaming
    form): DROP documents any of whose word-k-shingles hits the frozen
    Bloom filter — fit once on the static eval corpus with
    decontam.fit_shingle_bloom and frozen into the task config as the
    (m_bits, n_hashes, words) ints, so the gate is k codegen'd xxhash64
    probes per shingle and runs identically in batch and streaming
    pipelines. Semantics are deliberately ONE-SIDED: a Bloom filter has
    no false negatives, so a leaking document can NEVER ship; ~FPR
    (≈1% at 10 bits/item) of clean documents are over-dropped — the
    trade a decontamination gate wants when the alternative is
    freezing the benchmark's whole shingle vocabulary into the config
    (decontam_gate's ceiling). ROW-PRESERVING for survivors; NULL text
    has no shingles and passes. Options: m_bits, n_hashes, words [..]
    (from fit_shingle_bloom), k (default 3), column (default 'text')."""

    def apply(self, df: DataFrame) -> DataFrame:
        from ..functions import text as tx

        m = int(self.options["m_bits"])
        n_hashes = int(self.options["n_hashes"])
        words = [int(w) for w in self.options["words"]]
        k = int(self.options.get("k", 3))
        col = self.options.get("column", "text")
        # one SQL EXISTS lambda: flag iff ANY shingle passes all k
        # probes ((shiftleft with a column amount is SQL-only; the bit
        # array rides as a literal column so codegen sees a constant)
        probes = " AND ".join(
            f"(element_at(_bl_words, CAST(pmod(xxhash64(x, {i}), {m}) "
            f"/ 64 AS INT) + 1) & shiftleft(1L, CAST(pmod(pmod("
            f"xxhash64(x, {i}), {m}), 64) AS INT))) != 0"
            for i in range(1, n_hashes + 1)
        )
        flagged = F.expr(f"EXISTS(_bl_sh, x -> {probes})")
        return (
            df.withColumn(
                "_bl_words",
                F.array(*[F.lit(w).cast("long") for w in words]),
            )
            .withColumn("_bl_sh", tx.word_shingles(col, k))
            .filter(~F.coalesce(flagged, F.lit(False)))
            .drop("_bl_words", "_bl_sh")
        )


@register_task("rocchio_label")
class RocchioLabel(BasicTask):
    """Streaming-safe nearest-centroid labeler (x65's pure expression):
    attach each row's predicted label from configured per-label centroid
    literals — fit them once on labeled history with
    similarity.fit_label_centroids. Options: labels [..], centroids
    [[..], ..], column (vector column, default 'embedding'), alias
    (default 'label_pred')."""

    def apply(self, df: DataFrame) -> DataFrame:
        import numpy as np

        from ..operators.similarity import nearest_centroid_label

        return df.withColumn(
            self.options.get("alias", "label_pred"),
            nearest_centroid_label(
                self.options.get("column", "embedding"),
                list(self.options["labels"]),
                np.asarray(self.options["centroids"], dtype=np.float64),
            ),
        )


@register_task("length_gate")
class LengthGate(BasicTask):
    """Curation admission gate (x67's per-row form): keep documents
    whose power-of-2 character-length bin holds at least ``min_share``
    of the FROZEN history distribution — fit once with
    profile.fit_length_baseline, frozen into the task config, so the
    gate is a pure per-row expression and runs identically in batch and
    streaming pipelines (the aggregate drift MONITOR is
    profile.length_drift_frozen; this is the enforcement arm that drops
    the outlier-length docs the monitor would flag). ROW-PRESERVING
    like gopher_gate / bm25_gate; NULL text has no length and is
    dropped (it carries no admissible bin). Options: baseline {k_bin:
    count, ...}, min_share (default 0.0 — any bin seen in history
    passes), column (default 'text')."""

    def apply(self, df: DataFrame) -> DataFrame:
        baseline = {int(k): int(v) for k, v in self.options["baseline"].items()}
        n_total = sum(baseline.values())
        if n_total <= 0:
            raise ValueError("length_gate: baseline is empty")
        min_share = float(self.options.get("min_share", 0.0))
        col = self.options.get("column", "text")
        k = F.floor(
            F.log2(F.greatest(F.length(F.col(col)), F.lit(1)))
        ).cast("int")
        share = F.element_at(
            F.create_map(
                *[
                    F.lit(x)
                    for pair in (
                        (b, c / float(n_total)) for b, c in baseline.items()
                    )
                    for x in pair
                ]
            ),
            k,
        )
        # ">=" so min_share means "at least this share", as documented;
        # absent bins coalesce below any admissible share. The default
        # 0.0 admits exactly the bins present in the baseline (a present
        # bin's share is strictly positive).
        return df.filter(
            F.col(col).isNotNull()
            & (F.coalesce(share, F.lit(-1.0)) >= F.greatest(
                F.lit(min_share), F.lit(1e-300)
            ))
        )


@register_task("neardup_gate")
class NearDupGate(BasicTask):
    """Curation NEAR-dup blocklist gate (x77's streaming companion):
    DROP documents whose MinHash signature agrees with any configured
    blocklist sketch at est_jaccard ≥ threshold — catching the rotated-
    timestamp / reshuffled-boilerplate copies the exact-shingle
    decontam_gate misses. Sketches are fit once on the BOUNDED
    blocklist (dedup.fit_blocklist_sketches — spam templates, eval
    sets; corpus-scale history belongs on the banded store path, x77)
    and frozen into the task config; the check is a pure per-row
    expression (no explode/join/state), so the gate runs identically in
    batch and streaming pipelines. ROW-PRESERVING like its sibling
    gates; NULL/short text has no shingles and passes (its sentinel
    signature is excluded at fit time, not at apply time). Options:
    sketches [[64 ints], ...], threshold (default 0.5), n_hashes
    (default 64), k (default 3), seed (default 42), portable (default
    true — matches the oracle-mirrored arm), column (default 'text')."""

    def apply(self, df: DataFrame) -> DataFrame:
        from ..operators.dedup import neardup_hits_expr

        n = neardup_hits_expr(
            self.options.get("column", "text"),
            [list(map(int, s)) for s in self.options["sketches"]],
            threshold=float(self.options.get("threshold", 0.5)),
            n_hashes=int(self.options.get("n_hashes", 64)),
            k=int(self.options.get("k", 3)),
            seed=int(self.options.get("seed", 42)),
            portable=bool(self.options.get("portable", True)),
        )
        return df.filter(F.coalesce(n, F.lit(0)) == 0)


@register_task("anomaly_gate")
class AnomalyGate(BasicTask):
    """Streaming control chart (q86's per-row form): z-score each
    event's value against its type's FROZEN baseline (fit once on
    history with profile.fit_value_baselines — mean/std per type in the
    task config), flag |z| ≥ z_threshold. A pure per-type when-chain
    over the bounded type set, so it runs identically in batch and
    streaming pipelines. ROW-PRESERVING in the default ``mode='flag'``
    (appends '<alias>' and 'is_anomaly'); ``mode='drop'`` filters the
    anomalies out (an admission gate). Types absent from the baselines
    (or NULL values) get NULL z and are NOT anomalies — an unseen type
    must not be silently dropped. Options: baselines {type: [mean,
    std]}, z_threshold (default 3.0), type_col (default 'event_type'),
    value_col (default 'value'), alias (default 'zscore'), mode."""

    def apply(self, df: DataFrame) -> DataFrame:
        type_col = self.options.get("type_col", "event_type")
        value_col = self.options.get("value_col", "value")
        alias = self.options.get("alias", "zscore")
        zth = float(self.options.get("z_threshold", 3.0))
        v = F.col(value_col).cast("double")
        # a zero/negative std cannot score anything — under Spark's
        # default ANSI mode the division would raise DIVIDE_BY_ZERO and
        # kill the stream; treat the type as baseline-less instead (rows
        # pass un-scored)
        z = _per_key(type_col, {
            t: (v - float(mean)) / float(std)
            for t, (mean, std) in dict(self.options["baselines"]).items()
            if float(std) > 0
        })
        return _flag_rows(
            df, self.options, z, alias, F.abs(z) >= zth, "is_anomaly"
        )


def ecdf_gate_config(baseline_df, max_points: int = 512) -> list:
    """Convert ONE group's frozen score baseline
    (`profile.score_distribution_baseline` rows: value, cum_le, n) into
    the ``ecdf_gate`` task's ``baseline`` option — a sorted
    [[value, cdf], ...] step list, capped at ``max_points`` by even
    rank subsampling (a task config is a JSON document, not a table).
    The subsample keeps the LAST point of each kept run so the step
    function still reaches 1.0."""
    rows = sorted(
        (float(r["value"]), int(r["cum_le"]), int(r["n"]))
        for r in baseline_df.collect()
    )
    pts = [[v, c / n] for v, c, n in rows]
    if len(pts) > max_points:
        step = len(pts) / float(max_points)
        keep = sorted({min(int((i + 1) * step) - 1, len(pts) - 1)
                       for i in range(max_points)})
        pts = [pts[i] for i in keep]
    return pts


@register_task("ecdf_gate")
class EcdfGate(BasicTask):
    """Frozen-ECDF TAIL gate — the per-row declarable arm of the x137
    drift family (batch/stream sup-gap lives in
    `profile.apply_ks_gate`; THIS task gates individual rows): score
    each row's value by its percentile under a HISTORY distribution
    frozen into the task config (fit with
    `profile.score_distribution_baseline` → `ecdf_gate_config`), and
    flag rows outside the [lo, hi] percentile band — "this document's
    quality score would have been a tail event last month". A pure
    array-literal expression (binary-search-free step lookup over the
    bounded config list), so it runs identically in batch and
    streaming pipelines, like every gate in this family.

    ROW-PRESERVING in the default ``mode='flag'`` (appends ``<alias>``
    and ``is_tail``); ``mode='drop'`` filters tail rows out. NULL
    values get NULL percentile and are NOT tail events (the
    anomaly_gate rule: unseen must not be silently dropped). Options:
    baseline [[value, cdf], ...] (sorted), value_col (default
    'value'), alias (default 'pctl'), lo (default 0.01), hi (default
    0.99), mode."""

    def apply(self, df: DataFrame) -> DataFrame:
        value_col = self.options.get("value_col", "value")
        alias = self.options.get("alias", "pctl")
        lo = float(self.options.get("lo", 0.01))
        hi = float(self.options.get("hi", 0.99))
        pts = list(self.options["baseline"])
        v = F.col(value_col).cast("double")
        if pts:
            vals = F.array(*[F.lit(float(p[0])) for p in pts])
            cdfs = F.array(*[F.lit(float(p[1])) for p in pts])
            idx = F.size(F.filter(vals, lambda x: x <= v))
            pctl = F.when(
                v.isNotNull(),
                F.when(idx > 0, F.element_at(cdfs, idx)).otherwise(
                    F.lit(0.0)
                ),
            )
        else:  # empty baseline: nothing scorable
            pctl = F.lit(None).cast("double")
        return _flag_rows(
            df, self.options, pctl, alias, (pctl < lo) | (pctl > hi),
            "is_tail",
        )


@register_task("oov_gate")
class OovGate(BasicTask):
    """Frozen-vocabulary OOV gate — the per-row declarable arm of the
    x147 coverage family (the aggregate monitor is
    `profile.apply_oov_gate`; THIS task gates individual rows): score
    each document's share of token occurrences outside a HISTORY
    vocabulary frozen into the task config (fit with
    `profile.fit_vocab_topn`), and flag documents past ``max_oov`` —
    "a fixed tokenizer would shred this document into byte fallbacks".
    A pure array-expression check over the bounded vocab literal, so
    it runs identically in batch and streaming pipelines.

    ROW-PRESERVING in the default ``mode='flag'`` (appends ``<alias>``
    and ``is_oov``); ``mode='drop'`` filters flagged rows out. NULL or
    empty text has no tokens: NULL share, NOT flagged (the
    anomaly_gate rule). Options: vocab [token, ...], max_oov (default
    0.5), column (default 'text'), alias (default 'oov_share'),
    mode."""

    def apply(self, df: DataFrame) -> DataFrame:
        col = self.options.get("column", "text")
        alias = self.options.get("alias", "oov_share")
        max_oov = float(self.options.get("max_oov", 0.5))
        vocab = [str(t) for t in self.options["vocab"]]
        toks = F.split(F.col(col), " ")
        if vocab:
            vlit = F.array(*[F.lit(t) for t in vocab])
            n_oov = F.size(
                F.filter(toks, lambda t: ~F.array_contains(vlit, t))
            )
        else:  # empty vocab: every occurrence is OOV
            n_oov = F.size(toks)
        share = F.when(
            F.col(col).isNotNull() & (F.size(toks) > 0),
            n_oov.cast("double") / F.size(toks).cast("double"),
        )
        return _flag_rows(
            df, self.options, share, alias, share > max_oov, "is_oov"
        )


@register_task("source_cap_gate")
class SourceCapGate(BasicTask):
    """Dominant-source cap — the ENFORCEMENT arm of the x146 Gini
    monoculture gauge: given the FROZEN per-source token-mass Lorenz
    table (fit with `profile.fit_source_mass`), flag rows from sources
    whose frozen share of total token mass exceeds ``max_share`` — the
    mixture-designer's cap on the sources that drive Gini toward 1. A
    pure per-source when-chain over the bounded source set (the
    anomaly_gate shape), identical in batch and streaming pipelines.

    ROW-PRESERVING in the default ``mode='flag'`` (appends
    ``<alias>`` and ``is_capped``); ``mode='drop'`` filters capped
    rows. Sources absent from the frozen table get NULL share and are
    NOT capped (unseen must not be silently dropped). Options: masses
    {source: token_count}, max_share (default 0.5), source_col
    (default 'source'), alias (default 'mass_share'), mode."""

    def apply(self, df: DataFrame) -> DataFrame:
        source_col = self.options.get("source_col", "source")
        alias = self.options.get("alias", "mass_share")
        max_share = float(self.options.get("max_share", 0.5))
        masses = {str(k): int(v) for k, v in dict(self.options["masses"]).items()}
        total = float(sum(masses.values()))
        share = _per_key(source_col, {
            s: F.lit(m / total if total > 0 else None).cast("double")
            for s, m in masses.items()
        })
        return _flag_rows(
            df, self.options, share, alias, share > max_share, "is_capped"
        )


@register_task("coverage_gate")
class CoverageGate(BasicTask):
    """Good–Turing coverage gate — the per-row declarable arm of the
    x143 family: route rows by their source's FROZEN unseen-mass
    estimate (fit once on history with `profile.good_turing_unseen`;
    the streaming monitor that keeps it current is
    `profile.apply_good_turing_gate`). A source with unseen_mass past
    ``max_unseen`` is under-crawled — its vocabulary is still growing
    — and a curation pipeline typically routes it to more crawling
    instead of training. Pure per-source when-chain (anomaly_gate
    shape), identical in batch and streaming pipelines.

    ROW-PRESERVING in the default ``mode='flag'`` (appends
    ``<alias>`` and ``is_undercrawled``); ``mode='drop'`` filters the
    flagged rows. Unseen sources get NULL and are NOT flagged.
    Options: baselines {source: unseen_mass}, max_unseen (default
    0.1), source_col (default 'source'), alias (default
    'unseen_mass'), mode."""

    def apply(self, df: DataFrame) -> DataFrame:
        source_col = self.options.get("source_col", "source")
        alias = self.options.get("alias", "unseen_mass")
        max_unseen = float(self.options.get("max_unseen", 0.1))
        um = _per_key(source_col, {
            s: F.lit(float(v))
            for s, v in dict(self.options["baselines"]).items()
        })
        return _flag_rows(
            df, self.options, um, alias, um > max_unseen, "is_undercrawled"
        )
