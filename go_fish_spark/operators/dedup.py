"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine.

The reference has no dedup (closest pattern: the KV get-or-create collapse,
`agg_rules/cloudTrail_agg.go:39-63`); these are the north-star extension
ops, each designed for the 100 TB shape:

* **exact**      — one hash-partitioned groupBy on a fixed-width digest
                   (never shuffles full document text as the key).
* **MinHash+LSH** — signatures computed per-row with array expressions
                   (no shuffle), then ONE shuffle on (band, band_hash);
                   candidate verification happens inside buckets. Cost is
                   O(docs × bands) exploded rows, independent of the O(n²)
                   pair space.
* **SimHash**     — 64-bit signature per row (pure column math, no
                   shuffle), banding on 4×16-bit chunks (pigeonhole: any
                   pair within Hamming distance 3 shares ≥1 exact chunk),
                   verify with bit_count(xor).
* **n-gram Jaccard** — exact similarity join via shingle-inverted-index
                   self-join: explode distinct shingles, join on shingle,
                   count co-occurrences. Shuffles on shingle, which is the
                   scalable exact algorithm (pairs sharing no shingle are
                   never materialized); rare hot shingles are handled by
                   AQE skew splitting.
* **embedding cosine** — exact O(n²) pair scan kept for correctness
                   checks; the scale path is LSH bucketing in
                   similarity.py (random-hyperplane buckets → one shuffle).

Every pair operator goes through ONE blocked-pair kernel
(:func:`_blocked_pairs` — explode a key, self-join on it with
``id_a < id_b``; zero keys gives the exact all-pairs baselines), one
per-document join-back (:func:`_join_back`) and one guarded set
Jaccard (:func:`_jaccard`). The exceptions generate pairs their own
way: the delta probe's broadcast store scan (:func:`_delta_probe`) and
the sorted-neighborhood rank windows.

All signature math uses Spark built-ins over 31-bit modular arithmetic so
products stay far below 2^63 — no silent long overflow.

Performance note: a naive ``array(min(f(shingles)), min(g(shingles)), ...)``
formulation re-evaluates the shingling/hashing expression once per
signature component (Catalyst inlines aliased expressions; there is no CSE
across higher-order-function lambdas) — 64× the tokenization cost per row.
:func:`_let` binds an expression to a lambda variable so it is evaluated
exactly once per row, and the pair-generating operators persist their
signature frames because a self-join consumes them twice.
"""

from __future__ import annotations

import functools
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions import vectors
from ..functions.text import word_shingles

# Mersenne prime 2^31-1: modulus for the MinHash universal hash family.
_P31 = (1 << 31) - 1


def _let(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` once per row
    and reference it as a lambda variable inside ``body``. (``transform``
    evaluates its input array once; the lambda sees the bound value, so
    Catalyst cannot inline-duplicate the expensive expression.)"""
    return F.element_at(F.transform(F.array(value), body), 1)


#: Frames persisted by the pair-generating operators (their self-joins
#: consume the signatures twice). Spark only evicts caches under memory
#: pressure, so long-lived sessions can call :func:`release_caches` between
#: corpora to return executor storage eagerly.
_CACHED_FRAMES: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _CACHED_FRAMES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every frame cached by dedup operators; returns the
    count."""
    n = 0
    while _CACHED_FRAMES:
        try:
            _CACHED_FRAMES.pop().unpersist()
            n += 1
        except Exception:
            pass
    return n


# ---------------------------------------------------------------------------
# The blocked-pair kernel: every pair operator below generates its
# candidate pairs, attaches per-document columns to them and computes
# shingle-set Jaccard through these helpers.


def _blocked_pairs(rows: DataFrame, keys=(), carry=()) -> DataFrame:
    """Self-join ``rows`` (``_id`` plus the ``keys`` and ``carry``
    columns) on equal ``keys`` with ``id_a < id_b``: one row per pair
    and shared key value — a pair sharing two keys gives two
    co-occurrence rows, which the caller counts or deduplicates — with
    columns (id_a, id_b, then ``<c>_a``, ``<c>_b`` per ``carry``
    column). With no ``keys``, every id_a < id_b pair (the exact O(n²)
    baselines). Pairs sharing no key are never materialized: the join
    shuffles once on the key columns, and each side is renamed only
    after it, so the exploded rows carry no extra projection."""
    on = functools.reduce(
        lambda x, y: x & y,
        [F.col(f"_a.{k}") == F.col(f"_b.{k}") for k in keys]
        + [F.col("_a._id") < F.col("_b._id")],
    )
    return rows.alias("_a").join(rows.alias("_b"), on).select(
        F.col("_a._id").alias("id_a"),
        F.col("_b._id").alias("id_b"),
        *[F.col(f"_{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    )


def _join_back(pairs: DataFrame, docs: DataFrame, carry) -> DataFrame:
    """Attach ``docs``' per-document ``carry`` columns (keyed by
    ``_id``) to both sides of a candidate pair frame: ``<c>_a`` on
    id_a, then ``<c>_b`` on id_b. Work ∝ candidate pairs."""
    for s in "ab":
        pairs = pairs.join(
            docs.select(
                F.col("_id").alias(f"id_{s}"),
                *[F.col(c).alias(f"{c}_{s}") for c in carry],
            ),
            f"id_{s}",
        )
    return pairs


def _jaccard(inter: Column, n_a: Column, n_b: Column) -> Column:
    """Set Jaccard from the intersection size and both set sizes. Two
    empty sets (sub-k-token documents) give NULL, which fails every
    threshold, instead of a 0/0 that kills the job under ANSI."""
    denom = n_a + n_b - inter
    return F.when(denom > 0, inter / denom)


def _shingle_jaccard(sa: str = "_sh_a", sb: str = "_sh_b") -> Column:
    """:func:`_jaccard` of two shingle-set array columns."""
    return _jaccard(
        F.size(F.array_intersect(sa, sb)), F.size(sa), F.size(sb)
    )


def _verified_jaccard(
    cands: DataFrame, shingles: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for the candidate pairs ``cands`` whose
    exact Jaccard over ``shingles``' (_id, _sh) sets meets
    ``threshold`` — the verification stage of every blocking discipline
    that screens candidates first (prefix filter, winnowing, SNM)."""
    return (
        _join_back(cands, shingles, ("_sh",))
        .select("id_a", "id_b", _shingle_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _P31), rng.randrange(0, _P31)) for _ in range(n_hashes)]


# Horner-combine multiplier for numeric k-shingle hashing (< 2^31 so
# products stay < 2^62).
_SHINGLE_A = 1_000_003


def _portable_token_hash(t: Column) -> Column:
    """60-bit token hash BOTH Spark and DuckDB can compute bit-identically:
    the first 15 hex chars of md5 parsed as an integer (Spark ``conv(..,
    16, 10)`` ≡ DuckDB ``('0x' || substr(..))::BIGINT``). The oracle-arm
    alternative to xxhash64 (JVM-only); still whole-stage-codegen
    JVM-side, just one md5 per token instead of one xxhash."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")


def _shingle_hashes(
    text: Column | str, k: int, portable: bool = False,
    distinct: bool = True,
) -> Column:
    """31-bit hash per word-k-shingle — numerically, without ever
    materializing shingle strings: hash each token once (xxhash64, or the
    DuckDB-mirrorable md5 prefix when ``portable``), then Horner-combine k
    consecutive token hashes mod 2^31-1. ~k× cheaper than hashing
    concatenated shingle strings. ``distinct=True`` (the set semantics
    every Jaccard/MinHash consumer wants) dedupes; ``distinct=False``
    keeps the POSITIONAL sequence (winnowing needs window order)."""
    token_hash = _portable_token_hash if portable else F.xxhash64
    token_hashes = F.transform(
        F.split(text, " "), lambda t: F.pmod(token_hash(t), F.lit(_P31))
    )

    def combine(th: Column, i: Column) -> Column:
        h = F.element_at(th, i)
        for j in range(1, k):
            h = F.pmod(h * _SHINGLE_A + F.element_at(th, i + j), F.lit(_P31))
        return h

    def body(th: Column) -> Column:
        n = F.size(th)
        seq = F.transform(
            F.sequence(F.lit(1), n - (k - 1)), lambda i: combine(th, i)
        )
        return F.when(
            n >= k,
            F.array_distinct(seq) if distinct else seq,
        ).otherwise(F.array().cast("array<bigint>"))

    return _let(token_hashes, body)


def minhash_signature(
    text: Column | str,
    n_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> Column:
    """array<long> MinHash signature, entirely array-side (no shuffle).

    h_i(x) = (a_i*x + b_i) mod (2^31-1); a_i,x < 2^31 keeps products
    < 2^62. Empty shingle sets (fewer than k tokens) get the all-sentinel
    2^31-1 signature, which no real shingle can produce: it means "no
    shingles", so banding emits no bands for it (every two such docs
    would otherwise agree on all components and pair at 1.0).

    Shingle hashing runs ONCE per row (let-bound), then the 64 component
    mins iterate the in-memory hash array — O(shingles × n_hashes) array
    ops instead of O(n_hashes) re-tokenizations.

    The parameter table is built as ONE parsed SQL literal rather than
    n_hashes × 3 nested Column calls: each F.lit/F.struct is a py4j
    round-trip, and at 64 hashes that alone cost ~1 s of driver time per
    query build (measured; see SCALE.md round 2)."""
    params = F.expr(
        "array("
        + ",".join(
            f"named_struct('a',{a},'b',{b})"
            for a, b in minhash_params(n_hashes, seed)
        )
        + ")"
    )
    hashes = _shingle_hashes(text, k, portable)
    return _let(
        hashes,
        lambda hs: F.transform(
            params,
            lambda p: F.coalesce(
                F.array_min(
                    F.transform(hs, lambda h: F.pmod(h * p["a"] + p["b"], F.lit(_P31)))
                ),
                F.lit(_P31),
            ),
        ),
    )


def _band_struct_array(n_hashes: int, bands: int, portable: bool):
    """``array<struct<band,bh>>`` expression over a ``_sig`` column —
    slim banding rows: (id, band, band_hash) ONLY on any side that is
    shuffled or broadcast, because carrying the 64-long signature through
    a bands×-exploded join would move ``bands`` copies of every
    signature. Candidates then meet their signatures either by joining
    back to the persisted sigs (:func:`_join_back` in
    :func:`minhash_lsh_pairs`) or, in the
    delta probe (:func:`_delta_probe`), on the streamed store row that
    produced them, which never leaves its task. One parsed SQL literal, not
    bands × 4 Column calls (py4j overhead). The ``portable`` arm is the
    Horner fold :func:`duck_minhash_lsh_sql` mirrors integer-for-
    integer; the default arm is JVM xxhash64 over the band slice. An
    all-sentinel signature (no shingles, see :func:`minhash_signature`)
    has no bands."""
    rows_per_band = n_hashes // bands

    def _bh(b: int) -> str:
        if not portable:
            return (
                f"xxhash64(slice(_sig,{b * rows_per_band + 1},{rows_per_band}))"
            )
        e = f"element_at(_sig,{b * rows_per_band + 1})"
        for j in range(1, rows_per_band):
            e = (
                f"pmod({e} * {_SHINGLE_A} + "
                f"element_at(_sig,{b * rows_per_band + j + 1}), {_P31})"
            )
        return e

    return F.expr(
        f"CASE WHEN element_at(_sig,1) = {_P31} THEN array() ELSE array("
        + ",".join(
            f"named_struct('band',{b},'bh',{_bh(b)})" for b in range(bands)
        )
        + ") END"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    portable: bool = False,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding, verified by
    signature agreement.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and
    est_jaccard ≥ threshold, where est_jaccard is the fraction of
    agreeing signature components (an unbiased Jaccard estimator).

    ``portable`` swaps the two JVM-only hashes (xxhash64 token hashing,
    xxhash64 band hashing) for DuckDB-expressible twins (md5-prefix token
    hash, Horner band fold) so :func:`duck_minhash_lsh_sql` can mirror
    the ENTIRE pipeline — shingles, signatures, banding, verification —
    integer-for-integer in SQL. Same shape, same shuffle structure; the
    estimator is exact either way (agree/n_hashes is a dyadic rational).

    ``sigs``: optional pre-fitted (_id, _sig) frame at the SAME params
    (a :func:`sketch_store` / shared signature frame) — a pipeline that
    already holds the signatures hands them in instead of re-hashing
    the corpus (the shared-sketch discipline).
    """
    assert n_hashes % bands == 0

    # Persist: signatures feed the banding explode AND both sides of the
    # candidate self-join; without this the whole shingle+signature
    # computation re-runs per consumer. ~0.5 KB/row, spills to disk if big.
    if sigs is None:
        sigs = _persist(
            df.select(
                F.col(id_col).alias("_id"),
                minhash_signature(
                    text_col, n_hashes, k, seed, portable
                ).alias("_sig"),
            )
        )
    else:
        sigs = _persist(sigs.select("_id", "_sig"))

    band_cols = _band_struct_array(n_hashes, bands, portable)
    exploded = sigs.select("_id", F.explode(band_cols).alias("bd")).select(
        "_id", F.col("bd.band").alias("band"), F.col("bd.bh").alias("bh")
    )

    cand_ids = _blocked_pairs(exploded, ("band", "bh")).dropDuplicates(
        ["id_a", "id_b"]
    )
    candidates = _join_back(cand_ids, sigs, ("_sig",))

    agree = F.size(
        F.filter(F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda v: v)
    )
    est = agree / F.lit(float(n_hashes))
    return (
        candidates.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


#: DuckDB mirror of :func:`_portable_token_hash`.
_DUCK_TOKEN_HASH = "('0x' || substr(md5({t}), 1, 15))::BIGINT"


def _duck_minhash_parts(
    text_col: str,
    n_hashes: int,
    bands: int,
    k: int,
    seed: int,
) -> dict[str, str]:
    """The DuckDB expression fragments mirroring the portable MinHash
    pipeline (``tok`` token hashes, ``shing`` shingle combine, ``sig``
    signature list, ``bandlist`` Horner band hashes, ``agree`` component
    agreement over ``sa``/``sb``) — shared by every mirror that speaks
    signatures (:func:`duck_minhash_lsh_sql`,
    :func:`duck_minhash_error_audit_sql`,
    :func:`duck_incremental_near_dedup_sql`)."""
    assert n_hashes % bands == 0
    r = n_hashes // bands
    params = minhash_params(n_hashes, seed)
    tok = (
        f"list_transform(string_split({text_col}, ' '), "
        f"t -> {_DUCK_TOKEN_HASH.format(t='t')} % {_P31})"
    )

    sh_e = "th[i]"
    for j in range(1, k):
        sh_e = f"(({sh_e}) * {_SHINGLE_A} + th[i+{j}]) % {_P31}"
    shing = (
        f"CASE WHEN len(th) >= {k} THEN "
        f"list_distinct([{sh_e} for i in range(1, len(th) - {k - 2})]) "
        f"ELSE CAST([] AS BIGINT[]) END"
    )

    sig_list = "[" + ",".join(
        f"coalesce(list_min(list_transform(sh, x -> (x * {a} + {b}) % {_P31})), {_P31})"
        for a, b in params
    ) + "]"

    def bh(b: int) -> str:
        e = f"sig[{b * r + 1}]"
        for j in range(1, r):
            e = f"(({e}) * {_SHINGLE_A} + sig[{b * r + j + 1}]) % {_P31}"
        return e

    # the all-sentinel signature means "no shingles": no bands
    bandlist = f"CASE WHEN sig[1] = {_P31} THEN [] ELSE [" + ",".join(
        f"{{band: {b}, bh: {bh(b)}}}" for b in range(bands)
    ) + "] END"
    agree = (
        f"len([i for i in range(1, {n_hashes + 1}) "
        "if sa.sig[i] = sb.sig[i]])"
    )
    return {"tok": tok, "shing": shing, "sig": sig_list,
            "bandlist": bandlist, "agree": agree}


def duck_minhash_lsh_sql(
    tbl: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB mirror of ``minhash_lsh_pairs(..., portable=True)``,
    integer-for-integer: md5-prefix token hashes mod 2^31-1, the same
    Horner shingle combine (pmod after every step — all values
    non-negative, so ``%`` ≡ ``pmod``), the same (a·x+b) mod p signature
    family from :func:`minhash_params`, Horner band hashes, bucket
    self-join, and agree/n_hashes verification (exact dyadic rational —
    no FP divergence possible)."""
    from .similarity import _dlit

    p = _duck_minhash_parts(text_col, n_hashes, bands, k, seed)
    tok, shing, sig_list, bandlist = (
        p["tok"], p["shing"], p["sig"], p["bandlist"]
    )

    return f"""
    WITH th AS (SELECT {id_col} AS _id, {tok} AS th FROM {tbl}),
    shn AS (SELECT _id, {shing} AS sh FROM th),
    sig AS (SELECT _id, {sig_list} AS sig FROM shn),
    ex AS (SELECT _id, bd.band AS band, bd.bh AS bh
           FROM (SELECT _id, unnest({bandlist}) AS bd FROM sig)),
    cand AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b
             FROM ex a JOIN ex b
             ON a.band = b.band AND a.bh = b.bh AND a._id < b._id)
    SELECT id_a, id_b,
           {p["agree"]} / {_dlit(n_hashes)} AS est_jaccard
    FROM cand JOIN sig sa ON cand.id_a = sa._id
              JOIN sig sb ON cand.id_b = sb._id
    WHERE {p["agree"]} / {_dlit(n_hashes)} >= {_dlit(threshold)}
    ORDER BY id_a, id_b
    """


def minhash_error_audit(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.2,
    seed: int = 42,
) -> "DataFrame":
    """Sketch-ACCURACY audit: for every LSH candidate pair, compare the
    MinHash estimate (agreeing components / n_hashes) against the EXACT
    Jaccard of the same hashed-shingle sets, and report the error
    histogram — the validation a pipeline publishes before trusting a
    sketch threshold to delete terabytes. The estimator is unbiased with
    stddev ≈ sqrt(J(1−J)/n_hashes) ≈ 0.06 at n=64; a histogram whose mass
    sits outside ±2σ flags a broken hash family or band plan.

    Ground truth is Jaccard over the HASHED shingle sets (what the
    estimator actually estimates — collision effects included), so both
    engines compute it from the same integer sets. Output per 0.05-wide
    |error| bin: (err_bin INT, n_pairs, mean_abs_err round-9,
    max_abs_err round-9), ordered by err_bin.

    100 TB shape: candidate pairs come from the banding join (bounded by
    the near-dup structure, never n²); the exact-Jaccard check joins the
    pair list back to the per-doc shingle arrays on the id key — work
    ∝ pairs, the same shape as x02's verification stage; the histogram
    is a ≤ 20-key groupBy."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n_hashes, bands, k, threshold, seed,
        portable=True,
    )
    sh = df.select(
        F.col(id_col).alias("_id"),
        _shingle_hashes(text_col, k, portable=True).alias("_sh"),
    )
    j = _join_back(pairs, sh, ("_sh",))
    err = F.abs(F.col("est_jaccard") - _shingle_jaccard())
    binned = j.select(
        F.floor(err * 20).cast("int").alias("err_bin"),
        F.round(err, 12).cast("decimal(27,18)").alias("_e"),
        err.alias("_raw"),
    )
    return (
        binned.groupBy("err_bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum("_e").cast("double") / F.count(F.lit(1)), 9
            ).alias("mean_abs_err"),
            F.round(F.max("_raw"), 9).alias("max_abs_err"),
        )
        .orderBy("err_bin")
    )


def duck_minhash_error_audit_sql(
    tbl: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.2,
    seed: int = 42,
) -> str:
    """DuckDB mirror of :func:`minhash_error_audit` — shares the portable
    signature construction with :func:`duck_minhash_lsh_sql` and adds the
    exact-Jaccard join-back (list_intersect over the same distinct
    integer shingle sets) and the 0.05-bin histogram. Every double op
    (est, exact, err, bin) runs in the same order as the Spark arm."""
    from .similarity import _dlit

    p = _duck_minhash_parts(text_col, n_hashes, bands, k, seed)
    return f"""
    WITH th AS (SELECT {id_col} AS _id, {p["tok"]} AS th FROM {tbl}),
    shn AS (SELECT _id, {p["shing"]} AS sh FROM th),
    sig AS (SELECT _id, {p["sig"]} AS sig FROM shn),
    ex AS (SELECT _id, bd.band AS band, bd.bh AS bh
           FROM (SELECT _id, unnest({p["bandlist"]}) AS bd FROM sig)),
    cand AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b
             FROM ex a JOIN ex b
             ON a.band = b.band AND a.bh = b.bh AND a._id < b._id),
    est AS (
      SELECT id_a, id_b, {p["agree"]} / {_dlit(n_hashes)} AS est_jaccard
      FROM cand JOIN sig sa ON cand.id_a = sa._id
                JOIN sig sb ON cand.id_b = sb._id
      WHERE {p["agree"]} / {_dlit(n_hashes)} >= {_dlit(threshold)}
    ),
    jx AS (
      SELECT abs(est_jaccard
                 - len(list_intersect(a.sh, b.sh))
                   / (len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh)))) AS err
      FROM est JOIN shn a ON est.id_a = a._id
               JOIN shn b ON est.id_b = b._id
    )
    SELECT CAST(floor(err * 20) AS INTEGER) AS err_bin,
           count(*) AS n_pairs,
           round(CAST(sum(CAST(round(err, 12) AS DECIMAL(27,18))) AS DOUBLE)
                 / count(*), 9) AS mean_abs_err,
           round(max(err), 9) AS max_abs_err
    FROM jx GROUP BY 1 ORDER BY err_bin
    """



# ---------------------------------------------------------------------------
# SimHash

_N_CHUNKS = 4
_CHUNK_BITS = 16


def simhash_chunks(text: Column | str, portable: bool = False) -> Column:
    """64-bit SimHash as an array of 4×16-bit chunk values (avoids
    sign-bit overflow when assembling, and banding needs the chunks
    anyway).

    Bit j is set iff the majority of distinct tokens have bit j set in
    their 64-bit hash. Pure array expressions — no explode, no shuffle;
    token hashing and the bit counts are each evaluated once per row
    (let-bound), so cost is O(tokens × 64) array ops.

    ``portable`` swaps xxhash64 for the 60-bit md5-prefix token hash so
    :func:`duck_simhash_sql` can mirror every bit in SQL (bits 60-63 are
    then always 0 — chunk 3 carries 12 effective bits, consistently on
    both sides).
    """
    pow2 = F.lit([1 << j for j in range(_CHUNK_BITS)]).cast("array<bigint>")
    token_hash = _portable_token_hash if portable else F.xxhash64
    hashes = F.transform(
        F.array_distinct(F.split(text, " ")), lambda t: token_hash(t)
    )

    def bits_of(hs: Column) -> Column:
        n = F.size(hs)
        return F.transform(
            F.sequence(F.lit(0), F.lit(_N_CHUNKS * _CHUNK_BITS - 1)),
            lambda j: F.when(
                F.size(F.filter(hs, lambda h: F.bit_get(h, j) == 1)) * 2 >= n,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    def chunks_of(bs: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(_N_CHUNKS - 1)),
            lambda c: F.aggregate(
                F.sequence(F.lit(0), F.lit(_CHUNK_BITS - 1)),
                F.lit(0).cast("long"),
                lambda acc, j: acc
                + F.element_at(bs, c * _CHUNK_BITS + j + 1)
                * F.element_at(pow2, j + 1),
            ),
        )

    return _let(hashes, lambda hs: _let(bits_of(hs), chunks_of))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs with Hamming distance ≤ max_hamming (≤3 by
    pigeonhole over the 4 chunk bands). One shuffle on (chunk_idx, value).
    ``portable`` → DuckDB-mirrorable token hashes (:func:`simhash_chunks`)."""
    sigs = _persist(
        df.select(
            F.col(id_col).alias("_id"),
            simhash_chunks(text_col, portable).alias("_chunks"),
        )
    )

    exploded = sigs.select(
        "_id", "_chunks", F.posexplode("_chunks").alias("ci", "cv")
    )

    cands = _blocked_pairs(exploded, ("ci", "cv"), ("_chunks",)).dropDuplicates(
        ["id_a", "id_b"]
    )

    hamming = F.aggregate(
        F.zip_with(
            "_chunks_a", "_chunks_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duck_simhash_sql(
    tbl: str, id_col: str, text_col: str, max_hamming: int = 3
) -> str:
    """DuckDB mirror of ``simhash_pairs(..., portable=True)``: the same
    distinct-token md5-prefix hashes, the same majority-bit rule
    (2·count ≥ n), the same 4×16-bit chunk assembly, banding self-join,
    and bit_count(xor) Hamming verification — all integer arithmetic, so
    the mirror is exact by construction."""
    hs = (
        f"list_transform(list_distinct(string_split({text_col}, ' ')), "
        f"t -> {_DUCK_TOKEN_HASH.format(t='t')})"
    )

    def chunk(c: int) -> str:
        terms = [
            f"CASE WHEN 2 * len([h for h in hs if (h >> {_CHUNK_BITS * c + j}) & 1 = 1])"
            f" >= len(hs) THEN {1 << j} ELSE 0 END"
            for j in range(_CHUNK_BITS)
        ]
        return "(" + " + ".join(terms) + ")::BIGINT"

    chlist = "[" + ", ".join(chunk(c) for c in range(_N_CHUNKS)) + "]"
    idx = "[" + ",".join(str(c) for c in range(_N_CHUNKS)) + "]"
    ham = " + ".join(
        f"bit_count(xor(sa.ch[{c + 1}], sb.ch[{c + 1}]))" for c in range(_N_CHUNKS)
    )
    return f"""
    WITH hsx AS (SELECT {id_col} AS _id, {hs} AS hs FROM {tbl}),
    sig AS (SELECT _id, {chlist} AS ch FROM hsx),
    ex AS (SELECT _id, unnest({idx}) AS ci, unnest(ch) AS cv FROM sig),
    cand AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b
             FROM ex a JOIN ex b
             ON a.ci = b.ci AND a.cv = b.cv AND a._id < b._id)
    SELECT id_a, id_b, ({ham})::INT AS hamming
    FROM cand JOIN sig sa ON cand.id_a = sa._id
              JOIN sig sb ON cand.id_b = sb._id
    WHERE ({ham}) <= {max_hamming}
    ORDER BY id_a, id_b
    """


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard similarity join


def _pair_sample_keep(
    frac: float, id_a, id_b, seed: str = "pairsample"
) -> Column:
    """Deterministic md5-uniform coin on the PAIR key (seed, id_a, id_b):
    a pure function of the pair, so every co-occurrence row of a pair
    gets the same verdict — a sampled pair keeps its EXACT Jaccard, an
    unsampled pair contributes nothing. Engine-invariant (same recipe
    as :func:`~go_fish_spark.operators.sampling.hash_uniform`)."""
    from .sampling import hash_uniform

    return (
        hash_uniform(
            F.concat_ws(
                "\x1f",
                F.lit(seed),
                id_a.cast("string"),
                id_b.cast("string"),
            )
        )
        < frac
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.3,
    prefix_filter: bool | None = None,
    pair_sample_frac: float | None = None,
    pair_sample_seed: str = "pairsample",
) -> DataFrame:
    """Exact Jaccard over word k-shingles. Two physically different plans
    produce identical results; the right one depends on the threshold:

    * **inverted-index join** (default for t < 0.6): explode distinct
      shingles → self-join on shingle (:func:`_shingle_cooccurrence`
      over :func:`_blocked_pairs`) → per-pair co-occurrence counts via
      map-side partial aggregation. Every co-occurrence row is touched,
      but Spark's hash aggregation makes that cheap; at moderate
      thresholds most pairs qualify anyway, so pruning buys little
      (measured: 2.4× FASTER than prefix filtering at t=0.3 on a
      duplication-heavy corpus).
    * **prefix-filtered** (All-Pairs/PPJoin-style, Bayardo et al. WWW'07;
      default for t ≥ 0.6): index only each doc's first
      ``n - ceil(t·n) + 1`` rarest shingles (pigeonhole: J ≥ t forces
      overlap ≥ ceil(t·n), which must hit the prefix), then verify
      candidates exactly with array_intersect. At t=0.8 the prefix is
      ~20% of the index and hot shingles almost never collide — this is
      the plan that survives duplication-heavy corpora at scale.

    ``pair_sample_frac`` (planning-tool mode, x100): keep each PAIR with
    probability ``frac`` under a deterministic md5 coin on the pair key,
    applied ONCE PER DISTINCT PAIR — after the co-occurrence aggregation
    on the inverted plan, after candidate dedup (before exact
    verification) on the prefix plan. Measured (SCALE.md round 8): an
    earlier pre-aggregation placement paid one md5 per CO-OCCURRENCE row
    and saved nothing — the coin cost what the aggregation it skipped
    cost — so the coin now runs on the bounded pair frame, where it is
    ~free, and everything downstream of it (prefix-plan exact
    verification, and the sweep's pairs × n_hashes × plans frame) rides
    the sample. Sampled pairs carry their EXACT Jaccard (the coin is
    per-pair, never per-row), so ratio estimates over the sample are
    unbiased; None (default) = the full pass, which stays the oracle arm.
    """
    if pair_sample_frac is not None and not 0 < pair_sample_frac <= 1:
        raise ValueError("pair_sample_frac must be in (0, 1]")
    if prefix_filter is None:
        prefix_filter = threshold >= 0.6

    sh = _shingle_sets(df, id_col, text_col, k)

    if not prefix_filter:
        inter = _shingle_cooccurrence(sh)
        if pair_sample_frac is not None:
            # per DISTINCT pair — one md5 per pair, not per co-occurrence
            inter = inter.filter(
                _pair_sample_keep(
                    pair_sample_frac,
                    F.col("id_a"),
                    F.col("id_b"),
                    pair_sample_seed,
                )
            )
        jac = _jaccard(F.col("inter"), F.col("_n_a"), F.col("_n_b"))
        return (
            inter.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    inv = sh.select("_id", "_n", F.explode("_sh").alias("s"))
    freq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    rarity = Window.partitionBy("_id").orderBy("_df", "s")
    prefix_len = F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    prefix = (
        inv.join(freq, "s")
        .withColumn("_r", F.row_number().over(rarity))
        .filter(F.col("_r") <= prefix_len)
        .select("_id", "s")
    )

    cands = _blocked_pairs(prefix, ("s",)).dropDuplicates(["id_a", "id_b"])
    if pair_sample_frac is not None:
        # per DISTINCT candidate — the exact verification below (the
        # prefix plan's expensive stage) rides the sample
        cands = cands.filter(
            _pair_sample_keep(
                pair_sample_frac,
                F.col("id_a"),
                F.col("id_b"),
                pair_sample_seed,
            )
        )

    return _verified_jaccard(cands, sh, threshold)


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Persisted (_id, _sh, _n) word-k-shingle sets and their sizes —
    read by the inverted index and again by any verification
    join-back."""
    return _persist(
        df.select(
            F.col(id_col).alias("_id"), word_shingles(text_col, k).alias("_sh")
        ).withColumn("_n", F.size("_sh"))
    )


def _shingle_cooccurrence(sh: DataFrame) -> DataFrame:
    """(id_a, id_b, _n_a, _n_b, inter) for every unordered pair sharing
    ≥ 1 shingle of :func:`_shingle_sets` ``sh``: both set sizes and the
    shared-shingle count — the inverted-index self-join on the shingle
    with map-side partial aggregation of the co-occurrence rows."""
    inv = sh.select("_id", "_n", F.explode("_sh").alias("s"))
    return (
        _blocked_pairs(inv, ("s",), ("_n",))
        .groupBy("id_a", "id_b", "_n_a", "_n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (exact pair scan — correctness baseline)


def embedding_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.45
) -> DataFrame:
    """Exact cosine pair scan (O(n²)) — the correctness baseline: the
    kernel's zero-key arm. The clustered scale path is
    :func:`semantic_dedup_pairs` (x26)."""
    return _cosine_pairs(df, id_col, vec_col, threshold)


def _cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, **keys: Column
) -> DataFrame:
    """(id_a, id_b, cos round-6) for the pairs sharing every ``keys``
    column (name → expression; none = all pairs) whose exact cosine
    meets ``threshold``. Norms per ROW, one aggregate per PAIR
    (bit-identical; vectors.cosine_pre)."""
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        *[e.alias(name) for name, e in keys.items()],
        vectors.norm(vec_col).alias("_nrm"),
    )
    cos = vectors.cosine_pre("_v_a", "_v_b", "_nrm_a", "_nrm_b")
    return (
        _blocked_pairs(rows, tuple(keys), ("_v", "_nrm"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def lsh_bucketed_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.45,
    n_planes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Bucketed embedding near-dup via random-hyperplane LSH — the same
    clustered shape as :func:`semantic_dedup_pairs` (exact cosine only
    WITHIN a bucket), but with a fully DETERMINISTIC partitioner: bucket
    bit i = sign(dot(v, plane_i)) with seeded literal planes, which —
    unlike a fitted KMeans quantizer — a SQL oracle can reproduce
    expression-for-expression. This makes the scale-path *structure*
    (one shuffle on the bucket key, within-bucket pair scoring)
    hash-checkable end-to-end, complementing x26's rows-only check.

    Recall: sign-identical vectors always share a bucket, so the
    near-identical dedup regime is fully recalled; borderline pairs split
    across a sign boundary are the approximation (2^n_planes buckets
    trade recall for pair-space reduction). Emitted cosines are exact.

    100 TB shape: both join inputs shuffle ONCE on the integer bucket
    key; per-bucket pair work is Σ|bucket|² — size n_planes so buckets
    fit an executor (and see semantic_dedup's cap discussion for the
    pathological-mass case)."""
    from . import similarity

    planes = similarity.hyperplanes(dim, n_planes, seed)
    return _cosine_pairs(
        df, id_col, vec_col, threshold,
        _bk=similarity.bucket_key(vec_col, planes),
    )


def duck_bucket_key(vec: str, planes: list[list[float]]) -> str:
    """DuckDB mirror of ``similarity.bucket_key`` over the same literal
    planes: explicit left-associative double sums (same fold order as the
    Spark ``aggregate``), signs composed into the integer bucket."""
    bits = []
    for i, plane in enumerate(planes):
        dot = " + ".join(
            f"{vec}[{j + 1}]::DOUBLE * {float(x)!r}" for j, x in enumerate(plane)
        )
        bits.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << i} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def _cap_cells(
    assigned: DataFrame, vec_col: str, max_cell_size: int, train_cap: int,
    seed: int,
) -> DataFrame:
    """Skew guard for :func:`semantic_dedup_pairs`: re-split cells over
    ``max_cell_size`` with a secondary KMeans (semantic locality kept),
    then salt any composite cell STILL over the cap (hard bound for
    identical-vector masses). Input/output columns: _id, _v, _cell;
    output _cell is a string composite key. Single pass over the data —
    the sub-quantizer assignment is a column expression on every row, and
    the hot/cold choice wraps it, so the frame is never scanned twice."""
    import math

    from . import similarity

    counts = assigned.groupBy("_cell").agg(F.count(F.lit(1)).alias("_n"))
    hot = {r["_cell"]: r["_n"] for r in counts.collect() if r["_n"] > max_cell_size}
    if not hot:
        return assigned.withColumn("_cell", F.col("_cell").cast("string"))

    # 2x oversplit: KMeans cells are not balanced, so splitting a hot cell
    # into exactly n/cap sub-cells would leave some sub-cells over the cap.
    n_sub = min(256, max(2, 2 * math.ceil(max(hot.values()) / max_cell_size)))
    X = similarity.sample_vectors(
        assigned.filter(F.col("_cell").isin(list(hot))), vec_col, train_cap, seed
    )
    sub_model = similarity.Quantizer(similarity._kmeans_fit(X, n_sub, seed))

    capped = assigned.select(
        "_id",
        "_v",
        F.when(
            F.col("_cell").isin(list(hot)),
            F.concat_ws("/", F.col("_cell"), sub_model.assign_col(vec_col)),
        )
        .otherwise(F.col("_cell").cast("string"))
        .alias("_cell"),
    )

    still = {
        r["_cell"]: r["_n"]
        for r in capped.groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
        if r["_n"] > max_cell_size
    }
    if still:
        # 2x oversalt: with exactly ceil(n/cap) salts, ordinary hash
        # imbalance (sd ≈ sqrt(n/salts)) overflows the cap a few percent
        # of the time; doubling the salt count puts the cap many sigma
        # away. (An exact row_number split would guarantee the bound but
        # costs a single-task sort of the pathological cell — the very
        # hot task this guard exists to prevent.)
        salt_map = F.create_map(
            *[
                F.lit(x)
                for k, n in still.items()
                for x in (k, 2 * math.ceil(n / max_cell_size))
            ]
        )
        capped = capped.withColumn(
            "_cell",
            F.when(
                F.col("_cell").isin(list(still)),
                F.concat_ws(
                    "#",
                    F.col("_cell"),
                    F.pmod(F.xxhash64("_id"), salt_map[F.col("_cell")]),
                ),
            ).otherwise(F.col("_cell")),
        )
    return capped


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    n_cells: int = 16,
    train_cap: int = 100_000,
    seed: int = 42,
    max_cell_size: int | None = None,
    quantizer=None,
    assign: str = "blas",
) -> DataFrame:
    """SemDeDup-style clustered near-dup: the 100 TB scale path for
    :func:`embedding_dup_pairs` (Abbas et al. 2023's recipe, public).

    A sampled-fit KMeans coarse quantizer assigns every vector to one of
    ``n_cells`` cells in a single transform pass; EXACT cosine runs only
    within a cell, so the pair space shrinks from O(n²) to Σ|cell|² — and
    because near-duplicates are near in embedding space, they land in the
    same cell with high probability (recall vs the exact baseline is
    asserted in tests/test_dedup.py). At scale, ``n_cells`` grows ~√n so
    the expected cell stays bounded; the fit cost does not grow at all
    (bounded sample, see ``similarity.fit_quantizer``).

    Physical shape: ONE shuffle of (id, vec) on the cell id, then the
    per-cell pairwise scoring runs as a BLAS gram matrix inside
    ``applyInPandas`` (Arrow-batched). Measured vs the HOF-expression
    self-join it replaces (SCALE.md): 20.4 s → 4.7 s at 20 000×64-dim
    (the interpreted per-pair fold was ~40 µs/pair; one dgemm per cell is
    not). At small corpora the sampled KMeans fit dominates wall time
    (~20 driver-scheduled iterations); that cost is bounded and amortizes
    at scale. This is the one place a pandas UDF beats built-ins:
    O(|cell|²·dim) float work with no per-row logic.

    Skew guard (``max_cell_size``): a degenerate quantizer can route most
    rows to ONE cell, turning the per-cell gram matrix into a single hot
    O(n²) task. With ``max_cell_size`` set, cells over the cap are
    re-split by a SECONDARY KMeans (fit on a bounded sample of just the
    hot rows — preserves semantic locality, so recall degrades only at
    sub-cell boundaries); any composite cell STILL over the cap (e.g. a
    mass of identical vectors no Voronoi boundary can separate) is salted
    by a deterministic id-hash as the hard cap. Salting sacrifices
    cross-salt pairs inside that pathological cell — exact duplicates
    should be removed by :func:`exact_dedup` upstream, which is what makes
    identical-vector masses a non-issue in the curation pipeline. Cost:
    one ≤ n_cells-row count collect, one bounded sub-fit, one ≤
    n_cells²-row recount — all independent of corpus size.

    Output matches embedding_dup_pairs: (id_a, id_b, cos), id_a < id_b,
    cos ≥ threshold — emitted pairs carry EXACT cosine (precision 1.0 by
    construction; only recall is approximate).

    ``quantizer`` injects a pre-fit model (e.g.
    ``similarity.fit_quantizer_det`` for engine-independent centroids an
    oracle can re-fit); default fits here. ``assign='expr'`` swaps the
    Arrow-batched BLAS assignment for the pure-expression argmin over the
    centroid literals (``Quantizer.assign_expr_col`` — JVM-side,
    bit-mirrored by ``similarity.duck_dist_list``); the two assignments
    are equal (asserted in tests), so this is a physical choice, not a
    semantic one. Pair SCORING stays the per-cell BLAS gram either way —
    the HOF-expression pair join it replaced was ~6× slower (SCALE.md);
    its numpy float64 arithmetic agrees with a sequential-fold SQL oracle
    to well under the emitted round-6 precision."""
    import numpy as np
    import pandas as pd

    from . import similarity

    if assign not in ("blas", "expr"):
        raise ValueError(f"unknown assign mode {assign!r}")
    model = quantizer or similarity.fit_quantizer(
        df, vec_col, n_cells, train_cap, seed
    )
    assign_col = (
        model.assign_expr_col(vec_col)
        if assign == "expr"
        else model.assign_col(vec_col)
    )
    assigned = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        assign_col.alias("_cell"),
    )

    if max_cell_size is not None:
        assigned = _cap_cells(
            assigned, "_v", max_cell_size, train_cap, seed
        )

    id_dtype = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_dtype}, id_b {id_dtype}, cos double"

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        # id_a < id_b with exact-cosine emission ≡ the crossJoin baseline.
        pdf = pdf.sort_values("_id", kind="mergesort")
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        G = (V @ V.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(m, k=1)
        keep = G[ia, ib] >= threshold
        ids = pdf["_id"].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cos": np.round(G[ia[keep], ib[keep]], 6),
            }
        )

    return assigned.groupBy("_cell").applyInPandas(score_cell, out_schema)


def semantic_dedup_pairs_expr(
    df: DataFrame,
    quantizer,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
) -> DataFrame:
    """Oracle-checkable twin of :func:`semantic_dedup_pairs`: the same
    clustered shape (one shuffle on the quantizer cell id, exact cosine
    only within a cell), but cell assignment is the PURE-EXPRESSION
    argmin over the quantizer's centroid literals
    (``Quantizer.assign_expr_col``) and pair scoring is the column-
    expression cosine — both mirrored bit-for-bit by
    ``similarity.duck_dist_list`` + ``vectors.duck_cosine``, so a SQL
    oracle embedding the same centroids reproduces every pair. Pass a
    ``fit_quantizer_det`` quantizer for engine-independent centroids.

    Equivalent output to the BLAS arm given the same quantizer (asserted
    in tests); the BLAS ``applyInPandas`` arm stays the scale path for
    dense cells (one dgemm per cell), this arm is the correctness
    contract — and is itself scale-sound (same single shuffle; per-pair
    HOF cosine instead of a gram matrix)."""
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        quantizer.assign_expr_col(vec_col).alias("_c"),
    )
    cos = vectors.cosine("_v_a", "_v_b")
    return (
        _blocked_pairs(rows, ("_c",), ("_v",))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def incremental_dedup(
    new_df: DataFrame, hist_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Dedup a NEW batch against a historical corpus, then within itself —
    the recurring-crawl shape: yesterday's corpus is already deduped, so
    today's batch only needs (a) an anti-join against the historical
    fingerprint store and (b) exact dedup within the batch.

    Output: (canonical_id, n_copies) per surviving distinct content —
    same contract as :func:`exact_dedup`, restricted to content unseen in
    ``hist_df``.

    100 TB shape: both sides reduce to 16-byte md5 digests before any
    join, so the anti-join shuffles slim keys on the digest; the
    historical side is corpus-scale and carries NO broadcast hint (in a
    real deployment the digest store would be bucketed by digest, making
    the anti-join zero-exchange on the stored side — see
    tests/test_bucketing.py for the pattern)."""
    hist = hist_df.select(F.md5(F.col(text_col)).alias("_digest")).distinct()
    fresh = (
        new_df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_digest"))
        .join(hist, "_digest", "left_anti")
    )
    return (
        fresh.groupBy("_digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


def sketch_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """(_id, _sig) MinHash sketch store over a corpus — the artifact a
    recurring-crawl pipeline PERSISTS (parquet, bucketed on _id) so that
    :func:`incremental_near_dedup` never re-tokenizes history: band
    hashes re-derive from the stored signature with array math only.
    ~0.5 KB/doc at 64 hashes — the 100 TB corpus's store is ~3 orders
    of magnitude smaller than its text."""
    return df.select(
        F.col(id_col).alias("_id"),
        minhash_signature(text_col, n_hashes, k, seed, portable).alias(
            "_sig"
        ),
    )


#: Budget for the hash relations one delta-probe chunk broadcasts, and
#: their measured built sizes (about 120 B per slim (id, band, bh) row
#: and 850 B per 64-hash signature, on 10⁴- and 4·10⁴-document batches):
#: a batch past the budget is probed in _id-hash chunks.
_PROBE_BROADCAST_BYTES = 128 << 20
_SLIM_ROW_BYTES, _SIG_HASH_BYTES = 120, 14


def _probe_chunks(n_sigs: int, n_hashes: int, bands: int) -> int:
    """How many broadcast chunks :func:`_delta_probe` splits an
    ``n_sigs``-document batch into (about 47k documents per chunk at 64
    hashes and 16 bands)."""
    per_doc = bands * _SLIM_ROW_BYTES + n_hashes * _SIG_HASH_BYTES
    return max(1, -(-n_sigs * per_doc // _PROBE_BROADCAST_BYTES))


def _delta_probe(
    sigs: DataFrame,
    n_sigs: int,
    store: DataFrame,
    n_hashes: int,
    bands: int,
    threshold: float,
    portable: bool,
) -> DataFrame:
    """The one delta probe behind :func:`incremental_near_dedup` and
    :func:`delta_minhash_pairs`: every VERIFIED candidate between the
    batch's (_id, _sig) frame ``sigs`` (``n_sigs`` rows) and the
    historical ``store``, as rows (_id, _nid, _new, est_jaccard).
    ``_nid`` is a batch doc; ``_id`` is the row that probed it — a store
    doc (``_new`` false) or a SMALLER-id batch doc (``_new`` true). A
    pair that collides in several bands, or a store row present twice
    (a replayed append), repeats; callers reduce by key.

    Shape: the batch's slim (id, band, bh) rows and its (id, sig) rows
    are broadcast; the store, with the batch's own rows appended, is
    streamed through both broadcast hash joins. Each probing row keeps
    its own ``_sig``, so a candidate is verified on the row that
    produced it — the store is never shuffled, cached or deduplicated.
    ``sigs`` is read several times (the broadcasts and the scan), so
    hand in a materialized frame.

    Broadcast bound: a batch whose built relations would pass
    ``_PROBE_BROADCAST_BYTES`` (128 MB, about 47k documents at 16
    bands) is split by _id hash into chunks under it; each chunk
    streams the store once and the hits are unioned. One chunk — one
    store scan — covers any micro-batch up to that size."""
    assert n_hashes % bands == 0
    band_rows = _band_struct_array(n_hashes, bands, portable)
    probing = (
        store.select("_id", "_sig", F.lit(False).alias("_new"))
        .unionByName(sigs.select("_id", "_sig", F.lit(True).alias("_new")))
        .select("*", F.inline(band_rows))
    )
    agree = F.size(
        F.filter(F.zip_with("_sig", "_nsig", lambda x, y: x == y), lambda v: v)
    )
    n_chunks = _probe_chunks(n_sigs, n_hashes, bands)
    hits = []
    for i in range(n_chunks):
        part = sigs.select(F.col("_id").alias("_nid"), "_sig")
        if n_chunks > 1:
            part = part.filter(F.pmod(F.xxhash64("_nid"), F.lit(n_chunks)) == i)
        slim = F.broadcast(part.select("_nid", F.inline(band_rows)))
        batch = F.broadcast(part.select("_nid", F.col("_sig").alias("_nsig")))
        hits.append(
            probing.join(slim, ["band", "bh"])
            .filter(~F.col("_new") | (F.col("_id") < F.col("_nid")))
            .join(batch, "_nid")
            .select(
                "_id", "_nid", "_new",
                (agree / F.lit(float(n_hashes))).alias("est_jaccard"),
            )
            .filter(F.col("est_jaccard") >= threshold)
        )
    return functools.reduce(DataFrame.unionByName, hits)


def incremental_near_dedup(
    new_df: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """NEAR-duplicate dedup of a new crawl batch against a historical
    :func:`sketch_store` — the x29 recurring-ingest shape upgraded from
    byte-exact md5 matching to MinHash similarity: a re-crawled page
    with a rotated timestamp or reshuffled boilerplate is caught even
    though its digest changed.

    Per new doc, one row (id_col, status):
      * ``dup_of_history`` — a store doc verifies at est_jaccard ≥
        ``threshold``;
      * ``dup_in_batch`` — otherwise, a SMALLER-id batch doc verifies
        (any smaller id, regardless of that doc's own status — the
        deterministic pair-grain rule; near-dup similarity is not
        transitive, so chain-merging clusters is deliberately left to
        the batch CC path, x18/x66);
      * ``kept`` — neither. Among kept docs no verified pair exists
        (if (a,b) verified with a < b, b is marked).

    100 TB shape: history is touched ONLY through its signatures, in
    a streamed scan (:func:`_delta_probe`) — band hashes re-derive from
    ``_sig`` by array math, so the historical text is never read, and
    the store is never shuffled or cached. Only the batch is broadcast:
    |batch| × (bands × 20 B + 0.5 KB) of raw payload, about 2.8 KB per
    document as built hash relations. A batch past the kernel's 128 MB
    budget (about 47k documents at 16 bands) is probed in _id-hash
    chunks, one store scan each. The one exchange is a groupBy of the
    verified hits on the batch id (candidate-bounded by the x02 banding
    law).
    """
    sigs = _persist(
        sketch_store(new_df, id_col, text_col, n_hashes, k, seed, portable)
    )
    flags = (
        _delta_probe(
            sigs, sigs.count(), store, n_hashes, bands, threshold, portable
        )
        .groupBy(F.col("_nid").alias("_id"))
        .agg(F.max(~F.col("_new")).alias("_h"), F.max("_new").alias("_b"))
    )
    status = (
        F.when(F.col("_h"), F.lit("dup_of_history"))
        .when(F.col("_b"), F.lit("dup_in_batch"))
        .otherwise(F.lit("kept"))
    )
    return sigs.join(flags, "_id", "left").select(
        F.col("_id").alias(id_col), status.alias("status")
    )


def duck_incremental_near_dedup_sql(
    tbl: str,
    id_col: str,
    text_col: str,
    new_pred: str,
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB mirror of ``incremental_near_dedup(..., portable=True)``
    where history = rows of ``tbl`` failing ``new_pred`` (SQL boolean
    over ``tbl``'s columns) and their :func:`sketch_store` is derived in
    place — the same signature/band fragments as
    :func:`duck_minhash_lsh_sql` via :func:`_duck_minhash_parts`, the
    same agree/n_hashes dyadic-rational verification, the same
    smaller-id pair-grain status rule."""
    from .similarity import _dlit

    p = _duck_minhash_parts(text_col, n_hashes, bands, k, seed)
    thr = f"{p['agree']} / {_dlit(n_hashes)} >= {_dlit(threshold)}"
    return f"""
    WITH th AS (SELECT {id_col} AS _id, {p['tok']} AS th,
                       ({new_pred}) AS _new FROM {tbl}),
    shn AS (SELECT _id, _new, {p['shing']} AS sh FROM th),
    sig AS (SELECT _id, _new, {p['sig']} AS sig FROM shn),
    ex AS (SELECT _id, _new, bd.band AS band, bd.bh AS bh
           FROM (SELECT _id, _new, unnest({p['bandlist']}) AS bd FROM sig)),
    cand_h AS (SELECT DISTINCT n._id AS nid, h._id AS hid
               FROM ex n JOIN ex h ON n.band = h.band AND n.bh = h.bh
               WHERE n._new AND NOT h._new),
    hist_dup AS (SELECT DISTINCT nid FROM cand_h
                 JOIN sig sa ON cand_h.nid = sa._id
                 JOIN sig sb ON cand_h.hid = sb._id
                 WHERE {thr}),
    cand_b AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b
               FROM ex a JOIN ex b
               ON a.band = b.band AND a.bh = b.bh AND a._id < b._id
               WHERE a._new AND b._new),
    batch_dup AS (SELECT DISTINCT id_b AS nid FROM cand_b
                  JOIN sig sa ON cand_b.id_a = sa._id
                  JOIN sig sb ON cand_b.id_b = sb._id
                  WHERE {thr})
    SELECT _id AS {id_col},
           CASE WHEN _id IN (SELECT nid FROM hist_dup) THEN 'dup_of_history'
                WHEN _id IN (SELECT nid FROM batch_dup) THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM sig WHERE _new
    ORDER BY {id_col}
    """


def delta_minhash_pairs(
    new_df: DataFrame | None,
    store: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    portable: bool = False,
    sigs: DataFrame | None = None,
    n_sigs: int | None = None,
) -> DataFrame:
    """Verified near-dup PAIRS touching a new crawl batch — the pair-grain
    sibling of :func:`incremental_near_dedup` (which reduces the same
    probe to per-doc statuses): every (id_a, id_b, est_jaccard) with
    est ≥ ``threshold`` where AT LEAST ONE side is a new doc; the other
    side may come from the historical :func:`sketch_store`. id_a < id_b.

    This is the edge feed for incremental dedup-graph maintenance
    (:func:`~go_fish_spark.operators.audit.incremental_audit_merge`):
    pairs(corpus ∪ batch) = pairs(corpus × corpus) ∪ THIS, because the
    signature estimator is pairwise — so merging these edges into the
    existing component labels reproduces the full recompute exactly
    (the union law is tested in tests/test_dedup.py, the merge parity
    in tests/test_round9.py).

    ``sigs``: the batch's pre-computed (_id, _sig) frame at the SAME
    params (``new_df`` is then unused) — a caller that already holds
    the batch's signatures, materialized, hands them in instead of
    hashing the batch again. ``n_sigs``: the batch's row count, if the
    caller already observed it (otherwise it is counted).

    100 TB shape: the store is streamed through the broadcast batch
    (:func:`_delta_probe`) — no historical text is read, and the store
    is never shuffled, cached or deduplicated. Only the batch is
    broadcast: |batch| × (bands × 20 B + 0.5 KB) of raw payload, about
    2.8 KB per document as built hash relations. A batch past the
    kernel's 128 MB budget (about 47k documents at 16 bands) is probed
    in _id-hash chunks, one store scan each. The one exchange is the
    dropDuplicates of the slim verified pairs, which also absorbs
    duplicate store rows."""
    if sigs is None:
        sigs = _persist(
            sketch_store(new_df, id_col, text_col, n_hashes, k, seed, portable)
        )
    if n_sigs is None:
        n_sigs = sigs.count()
    hits = _delta_probe(
        sigs.select("_id", "_sig"), n_sigs, store, n_hashes, bands,
        threshold, portable,
    )
    return hits.select(
        F.least("_id", "_nid").alias("id_a"),
        F.greatest("_id", "_nid").alias("id_b"),
        "est_jaccard",
    ).dropDuplicates(["id_a", "id_b"])


def passage_dedup(
    df: DataFrame, id_col: str, text_col: str, span_tokens: int = 20
) -> DataFrame:
    """Passage-level (span) dedup — the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" move, operating BELOW
    document granularity: boilerplate repeated across otherwise-distinct
    documents (headers, licenses, navigation chrome) is removed span by
    span while the unique prose stays. Each document is cut into
    non-overlapping ``span_tokens``-token spans; a span is kept iff it is
    the corpus-wide FIRST occurrence of its content (min (doc, position)
    — deterministic), and each document is rebuilt from its kept spans
    in order. Output: (id_col, n_spans, n_kept, text_dedup).

    100 TB shape: span construction is array-side per row (zero
    shuffles); first-occurrence election is ONE shuffle on the 16-byte
    span digest (window rn=1 — hot boilerplate digests are the skew
    consideration: each group holds every copy of one span, same hazard
    class as exact dedup's digest groupBy); document reassembly is one
    groupBy on the doc id with an order-preserving sort_array, not a
    global sort."""
    toks = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * span_tokens + 1, span_tokens)
        ),
    )
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.when(F.size(toks) > 0, spans).otherwise(
            F.array().cast("array<string>")
        )).alias("_pos", "_span"),
    )
    w = Window.partitionBy(F.md5("_span")).orderBy("_id", "_pos")
    kept = exploded.withColumn("_rn", F.row_number().over(w))
    return (
        kept.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rn") == 1,
                                F.struct(F.col("_pos"), F.col("_span")),
                            )
                        )
                    ),
                    lambda s: s["_span"],
                ),
                " ",
            ).alias("text_dedup"),
        )
        .select(
            F.col("_id").alias(id_col), "n_spans", "n_kept", "text_dedup"
        )
    )


def normalized_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup under content NORMALIZATION (lowercase, non-alphanumeric
    runs collapsed to one space, trimmed) — catches the near-exact tier
    between x01 (byte-identical) and the similarity family: re-encoded,
    re-punctuated, case-shifted copies. Output per normalized-content
    group: (canonical_id, n_copies, n_raw_variants) where n_raw_variants
    counts the distinct RAW byte-contents merged by normalization (1 ⇒
    normalization added nothing for that group).

    Same 100 TB shape as exact_dedup: normalization is a per-row map and
    the shuffle key is the 16-byte digest of the normalized text. The
    regex is shared Java∩RE2 dialect ([^a-z0-9]+), so DuckDB mirrors it
    exactly."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    return (
        df.groupBy(F.md5(norm).alias("_digest"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct(F.md5(F.col(text_col))).alias("n_raw_variants"),
        )
        .select("canonical_id", "n_copies", "n_raw_variants")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: canonical (min id) representative + duplicate count per
    identical content. Groups on the md5 digest so the shuffle key is 16
    bytes regardless of document size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("_digest"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


def corpus_diff(
    old_df: DataFrame, new_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Snapshot diff between two corpus versions — the release changelog
    a dataset publishes: which documents were added, removed, changed
    (same id, different content), or carried unchanged. Content equality
    is by md5 digest; NULL text coalesces to a sentinel so null↔null is
    ``unchanged``, not a three-valued-logic surprise. ``id_col`` must be
    unique WITHIN each snapshot (the changelog contract — a duplicated
    id would fan out through the full-outer join); run exact dedup
    first if the snapshot isn't keyed.

    Output: (id_col, status ∈ added|removed|changed|unchanged), one row
    per id present in either snapshot.

    100 TB shape: each side reduces to (id, 16-byte digest) before the
    ONE full-outer join on the id key — the text never shuffles; status
    is a map-side expression after the join. Both snapshots bucketed on
    the id make it zero-exchange (tests/test_bucketing.py pattern)."""
    o = old_df.select(
        F.col(id_col).alias("_id"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("")).alias("_do"),
    )
    n = new_df.select(
        F.col(id_col).alias("_id"),
        F.coalesce(F.md5(F.col(text_col)), F.lit("")).alias("_dn"),
    )
    status = (
        F.when(F.col("_do").isNull(), F.lit("added"))
        .when(F.col("_dn").isNull(), F.lit("removed"))
        .when(F.col("_do") == F.col("_dn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, "_id", "full_outer")
        .select(F.col("_id").alias(id_col), status.alias("status"))
    )


def duck_corpus_diff_sql(
    tbl: str, id_col: str, text_col: str, old_pred: str, new_select: str
) -> str:
    """DuckDB mirror of :func:`corpus_diff` where the old snapshot is
    ``tbl`` rows passing ``old_pred`` and the new snapshot is the
    complete SELECT ``new_select`` (yielding ``{id_col}`` and
    ``{text_col}``) — same digest sentinel, same status precedence."""
    return f"""
    WITH o AS (SELECT {id_col} AS _id, coalesce(md5({text_col}), '') AS _do
               FROM {tbl} WHERE {old_pred}),
    n AS (SELECT {id_col} AS _id, coalesce(md5({text_col}), '') AS _dn
          FROM ({new_select})),
    j AS (SELECT coalesce(o._id, n._id) AS _id, o._do, n._dn
          FROM o FULL OUTER JOIN n ON o._id = n._id)
    SELECT _id AS {id_col},
           CASE WHEN _do IS NULL THEN 'added'
                WHEN _dn IS NULL THEN 'removed'
                WHEN _do = _dn THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM j ORDER BY {id_col}
    """


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: ordered pairs (a, b) where the
    fraction of a's word-k-shingles also present in b —
    ``|Sa ∩ Sb| / |Sa|`` — meets ``threshold``. Catches what symmetric
    Jaccard (:func:`ngram_jaccard_pairs`) structurally misses: a short
    quote, excerpt, or syndicated article CONTAINED in a much longer
    page has high containment but low Jaccard (the union is dominated by
    the long side). The classic curation use is dropping a's copy when
    containment(a→b) is high and b is the canonical/longer document.

    Output: (id_a, id_b, containment DOUBLE) — DIRECTED rows, both
    directions evaluated independently (containment is not symmetric);
    docs with fewer than k tokens have no shingles and emit nothing.

    100 TB shape: the Jaccard join's inverted-index co-occurrence count
    (:func:`_shingle_cooccurrence`: one shuffle on the shingle key,
    map-side partial aggregation, pairs sharing no shingle never
    materialize) read once per UNORDERED pair; each counted pair then
    emits both directions, |S∩|/|Sa| and |S∩|/|Sb|."""
    inter = _shingle_cooccurrence(_shingle_sets(df, id_col, text_col, k))
    both = F.array(
        F.struct(
            F.col("id_a"), F.col("id_b"),
            (F.col("inter") / F.col("_n_a")).alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"),
            (F.col("inter") / F.col("_n_b")).alias("containment"),
        ),
    )
    return inter.select(F.inline(both)).filter(
        F.col("containment") >= threshold
    )


def group_sketch_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    n_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
    portable: bool = False,
    sig_frame: DataFrame | None = None,
) -> DataFrame:
    """Pairwise overlap ESTIMATE between whole groups (sources,
    languages, snapshots) at sketch cost — the cheap screening twin of
    the exact x50 span matrix: each group's corpus-level MinHash sketch
    is the elementwise MIN of its documents' signatures (the defining
    mergeability of MinHash: sig(A ∪ B) = min(sig(A), sig(B)),
    position-wise), and the agreement fraction between two group
    sketches estimates the Jaccard similarity of the groups' UNION
    shingle sets. Documents with no shingles contribute the sentinel
    (≡ the empty set adds nothing) — the union law holds whenever at
    least one REAL shingle exists per group. A group whose docs are ALL
    sub-k-token has an all-sentinel sketch (an empty union set, not a
    similar one); pairs where either side is empty report NULL
    est_overlap rather than the spurious 1.0 two agreeing all-sentinel
    sketches would produce — mirroring
    :func:`fit_blocklist_sketches`'s sentinel exclusion.

    Output: (g_a, g_b, est_overlap) for every group pair g_a < g_b;
    est_overlap = agree/n_hashes, an exact dyadic rational (no FP
    divergence), NULL when either group's union shingle set is empty.

    100 TB shape: signatures are map-only array math over the corpus
    (zero shuffles); the sketch union is ONE groupBy on the bounded
    (group × n_hashes) position key with map-side combine; the pairwise
    join runs entirely on the ≤ groups × n_hashes sketch frame.

    ``sig_frame``: optional pre-fitted per-document signature frame with
    columns (group_col, _sig), computed with the SAME (n_hashes, k,
    seed, portable) — the shared-sketch discipline (x66's shared-audit
    pattern applied to the sketch family): a pipeline running several
    sketch audits fits the signatures ONCE and every consumer reads the
    materialized frame instead of re-tokenizing the corpus. Its
    non-NULL signatures must hold exactly ``n_hashes`` positions: a
    frame fitted with other parameters fails the query rather than
    being truncated to its first ``n_hashes`` positions.

    Physical shape (optimization r15 — the x94/x100 array-side
    treatment, guide §2.3/§2.4): the union sketch is built as ONE
    per-group aggregation of n_hashes element-wise mins over the whole
    signature arrays (no posexplode, no (group, position) exchange),
    and the pairwise agreement is a codegen'd ``zip_with`` count per
    PAIR row instead of a per-position join producing pairs × n_hashes
    rows reduced by a second exchange. Same integer agreements, same
    dyadic division — the estimate is bit-identical."""
    sigs = (
        sig_frame.select(
            F.col(group_col).alias("_g"),
            F.when(
                F.col("_sig").isNull() | (F.size("_sig") == n_hashes),
                F.col("_sig"),
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        f"sig_frame signatures must hold n_hashes={n_hashes}"
                        " positions"
                    )
                )
            )
            .alias("_sig"),
        )
        if sig_frame is not None
        else df.select(
            F.col(group_col).alias("_g"),
            minhash_signature(text_col, n_hashes, k, seed, portable).alias(
                "_sig"
            ),
        )
    )
    # element-wise min across the group's docs: min(sig(A ∪ B)) law,
    # position-wise, as n_hashes min aggregates on one group key. A doc
    # with a NULL/empty signature contributes NULLs, which min ignores —
    # and a group with ONLY such docs yields an all-NULL sketch, dropped
    # below exactly as posexplode dropped its (zero) position rows.
    m = (
        sigs.groupBy("_g")
        .agg(
            *[
                F.min(F.col("_sig").getItem(i)).alias(f"_m{i}")
                for i in range(n_hashes)
            ]
        )
        .select(
            "_g",
            F.array(
                *[F.col(f"_m{i}") for i in range(n_hashes)]
            ).alias("_u"),
        )
        .filter(F.col("_u").getItem(0).isNotNull())
    )
    agree = F.size(
        F.filter(
            F.zip_with("_u_a", "_u_b", lambda x, y: x == y), lambda v: v
        )
    )
    # min over a group's positions == sentinel ⟺ every position is
    # the sentinel (it is the max representable value) ⟺ the group's
    # union shingle set is empty → NULL, not a fake-perfect overlap
    return (
        _blocked_pairs(m.withColumnRenamed("_g", "_id"), carry=("_u",))
        .select(
            F.col("id_a").alias("g_a"),
            F.col("id_b").alias("g_b"),
            F.when(
                (F.array_min("_u_a") == _P31)
                | (F.array_min("_u_b") == _P31),
                F.lit(None).cast("double"),
            )
            .otherwise(agree / F.lit(float(n_hashes)))
            .alias("est_overlap"),
        )
    )


def duck_group_sketch_overlap_sql(
    tbl: str,
    group_col: str,
    text_col: str,
    n_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
) -> str:
    """DuckDB mirror of ``group_sketch_overlap(..., portable=True)`` —
    the same signature fragments as every MinHash mirror
    (:func:`_duck_minhash_parts`), the same position-wise min union,
    the same integer agreement count."""
    from .similarity import _dlit

    p = _duck_minhash_parts(text_col, n_hashes, 16, k, seed)
    return f"""
    WITH th AS (SELECT {group_col} AS _g, {p['tok']} AS th FROM {tbl}),
    shn AS (SELECT _g, {p['shing']} AS sh FROM th),
    sig AS (SELECT _g, {p['sig']} AS sig FROM shn),
    e AS (SELECT _g, generate_subscripts(sig, 1) AS _p, unnest(sig) AS _v
          FROM sig),
    m AS (SELECT _g, _p, min(_v) AS _m FROM e GROUP BY _g, _p)
    SELECT a._g AS g_a, b._g AS g_b,
           CASE WHEN min(a._m) = {_P31} OR min(b._m) = {_P31} THEN NULL
                ELSE sum(CASE WHEN a._m = b._m THEN 1 ELSE 0 END)
                     / {_dlit(n_hashes)}
           END AS est_overlap
    FROM m a JOIN m b ON a._p = b._p AND a._g < b._g
    GROUP BY a._g, b._g
    ORDER BY g_a, g_b
    """


def jaccard_threshold_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    band_width: float = 0.1,
    min_jaccard: float = 0.1,
) -> DataFrame:
    """Threshold-sweep report for picking a dedup bar: how many near-dup
    pairs exist per Jaccard band — computed in ONE pair pass instead of
    re-running the join per candidate threshold. The report a curation
    team reads before committing a threshold: a cliff between bands is
    a natural cut; a smooth tail means the threshold is a real
    trade-off knob.

    Output: (band_lo DOUBLE, n_pairs BIGINT) with band_lo ≤ J <
    band_lo + band_width, bands starting at ``min_jaccard`` (pairs
    below it are not materialized — the floor bounds the join output
    exactly like a threshold does); J = 1.0 lands in the top band.

    100 TB shape: exactly ONE x04 inverted-index pair pass (the
    dominant cost — the sweep is free relative to a single thresholded
    run), then a ≤ 1/band_width-key groupBy. The banding arithmetic is
    fixed-order double math, identical across engines."""
    if not 0 < band_width <= 1:
        raise ValueError("band_width must be in (0, 1]")
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, k=k, threshold=min_jaccard
    )
    # floor(j / width) alone mis-bins exact band boundaries: widths like
    # 0.05 are binary-inexact, so J=0.15 gives 0.15/0.05 = 2.999... and
    # lands one band low. True Jaccards are coarse rationals (denominator
    # = union size), never within 1e-9·width of an edge without being ON
    # it — rounding the quotient to 9 digits before flooring restores the
    # documented band_lo ≤ J < band_lo+width contract in both engines.
    band = F.least(
        F.floor(F.round(F.col("jaccard") / band_width, 9)) * band_width,
        F.lit(1.0 - band_width),
    )
    return (
        pairs.groupBy(F.round(band, 6).alias("band_lo"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("band_lo")
    )


def fit_blocklist_sketches(
    blocklist: DataFrame,
    text_col: str,
    n_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
    portable: bool = False,
    sig_frame: DataFrame | None = None,
) -> list[list[int]]:
    """Fit arm of the streaming NEAR-dup gate (the fit-on-history /
    apply-on-stream split of x30/x43/x56/x57, upgraded from exact
    shingles to sketches): collect the BOUNDED blocklist's MinHash
    signatures driver-side. Entries with no shingles (< k tokens) are
    dropped — their sentinel signatures would match every other empty
    doc, which is not a meaningful block. ``sig_frame``: optional
    pre-fitted frame with a ``_sig`` column (same params) — the fit
    then reads the shared signatures instead of re-hashing."""
    src = (
        sig_frame.select("_sig")
        if sig_frame is not None
        else blocklist.select(
            minhash_signature(text_col, n_hashes, k, seed, portable).alias(
                "_sig"
            )
        )
    )
    rows = (
        src
        .where(F.array_min("_sig") != _P31)  # all-sentinel = no shingles
        .collect()
    )
    return [list(r._sig) for r in rows]


def neardup_hits_expr(
    text_col: str,
    sketches: list[list[int]],
    threshold: float = 0.5,
    n_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
    portable: bool = False,
) -> Column:
    """Apply arm: how many blocklist sketches this row's signature
    agrees with at est_jaccard ≥ ``threshold`` — a PURE per-row
    expression (the doc signature is computed once via let-binding, the
    frozen sketches are one parsed array-of-arrays literal, agreement
    is the same zip_with count as every MinHash verifier). No explode,
    no join, no state: identical on batch and streaming frames.

    Unlike :func:`incremental_near_dedup`'s banding path this checks
    EVERY blocklist sketch — no candidate-miss, O(|blocklist| ×
    n_hashes) per row — which is exactly the right trade for a bounded
    blocklist (spam templates, eval sets) and wrong for corpus-scale
    history (use the banded store path there)."""
    if not sketches:
        return F.lit(0)
    lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(str(int(v)) + "L" for v in s) + ")"
            for s in sketches
        )
        + ")"
    )
    floor = int(-(-threshold * n_hashes // 1))  # ceil(threshold·n)
    sig = minhash_signature(text_col, n_hashes, k, seed, portable)
    return _let(
        sig,
        lambda sg: F.size(
            F.filter(
                lit,
                lambda s: F.size(
                    F.filter(
                        F.zip_with(sg, s, lambda x, y: x == y),
                        lambda v: v,
                    )
                )
                >= F.lit(floor),
            )
        ),
    )


def group_sketch_turnover(
    old_df: DataFrame,
    new_df: DataFrame,
    group_col: str,
    text_col: str,
    n_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
    portable: bool = False,
    old_sig_frame: DataFrame | None = None,
    new_sig_frame: DataFrame | None = None,
) -> DataFrame:
    """Per-group content TURNOVER between two corpus snapshots,
    estimated at sketch cost: each group's union-shingle-set sketch is
    built per snapshot (the :func:`group_sketch_overlap` mergeable-min
    construction), and the old↔new agreement estimates the Jaccard of
    the group's old vs new content — ``turnover = 1 − est`` is the
    release metric "how much did this source's content rotate?" that
    :func:`corpus_diff`'s per-doc statuses cannot see when ids change
    between crawls (re-crawled pages get new ids; the sketch keys on
    CONTENT). Groups present in only one snapshot are omitted (no pair
    to compare — read those off x80/x31).

    Output: (group_col, est_overlap, turnover), both exact dyadic
    rationals — NULL when either snapshot's union shingle set for the
    group is empty (all-sentinel sketch: two empty sides would otherwise
    report a fake-perfect est_overlap of 1.0; see
    :func:`group_sketch_overlap`'s sentinel exclusion). 100 TB shape:
    map-only signatures per snapshot, one bounded (group × n_hashes)
    groupBy per side, and a join on the bounded sketch frames.

    ``old_sig_frame`` / ``new_sig_frame``: optional pre-fitted per-doc
    signature frames with columns (group_col, _sig) for the matching
    side (same params) — a snapshot whose signatures another audit
    already fitted (x87/x93's shared frame) is not re-hashed; a
    transformed side (x94's edited new crawl) still computes its own.

    Both snapshots' sketches ride ONE (group, position) exchange: the
    per-doc rows are tagged with their side and unioned, and a single
    conditional-min aggregation computes both sides' union sketches at
    once (min over a side's rows ≡ that side's separate min; a side
    with no rows for the group yields NULL, and requiring both mins
    non-null reproduces the old inner join's group-in-both-snapshots
    semantics exactly — each side always emits all ``n_hashes``
    positions for every group it contains). Halves the aggregation
    exchanges and removes the old↔new join outright."""
    def tagged(df: DataFrame, old: bool, pre: DataFrame | None) -> DataFrame:
        per_doc = (
            pre.select(F.col(group_col).alias("_g"), "_sig")
            if pre is not None
            else df.select(
                F.col(group_col).alias("_g"),
                minhash_signature(
                    text_col, n_hashes, k, seed, portable
                ).alias("_sig"),
            )
        )
        return per_doc.select(
            "_g",
            F.posexplode("_sig").alias("_p", "_v"),
            F.lit(old).alias("_old"),
        )

    mins = (
        tagged(old_df, True, old_sig_frame)
        .unionByName(tagged(new_df, False, new_sig_frame))
        .groupBy("_g", "_p")
        .agg(
            F.min(F.when(F.col("_old"), F.col("_v"))).alias("_m_o"),
            F.min(F.when(~F.col("_old"), F.col("_v"))).alias("_m_n"),
        )
        .filter(F.col("_m_o").isNotNull() & F.col("_m_n").isNotNull())
    )
    agree = F.sum(
        F.when(F.col("_m_o") == F.col("_m_n"), 1).otherwise(0)
    )
    # all-sentinel side (min over positions == the sentinel max) = empty
    # union set → NULL, never the spurious 1.0 of two agreeing sentinels
    empty = (F.min("_m_o") == _P31) | (F.min("_m_n") == _P31)
    est = F.when(empty, F.lit(None).cast("double")).otherwise(
        agree / F.lit(float(n_hashes))
    )
    return (
        mins
        .groupBy(F.col("_g").alias(group_col))
        .agg(
            est.alias("est_overlap"),
            (F.lit(1.0) - est).alias("turnover"),
        )
    )


def lsh_plan_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    k: int = 3,
    min_jaccard: float = 0.2,
    dup_threshold: float = 0.5,
    seed: int = 42,
    portable: bool = False,
    sample_frac: float | None = None,
    sig_frame: DataFrame | None = None,
) -> DataFrame:
    """EMPIRICAL LSH plan sweep: for every banding plan (bands ×
    rows_per_band = ``n_hashes``), what the banded MinHash index would
    ACTUALLY do on this corpus — measured recall on true near-dup pairs
    (J ≥ ``dup_threshold``) and the false-candidate rate on weak pairs
    (``min_jaccard`` ≤ J < ``dup_threshold``) — next to the plan's
    theoretical S-curve threshold (1/b)^(1/r). The report an engineer
    reads to pick (b, r) BEFORE building the index: the theory curve
    says where the cliff should be; the measured columns say where it
    is on this corpus's actual Jaccard distribution.

    A pair "collides" under plan (b, r) iff some band of r consecutive
    signature positions agrees completely — evaluated exactly from the
    docs' REAL MinHash signatures (integer agreement, no probability
    model). The S-curve threshold is computed driver-side in Python and
    attached as a literal, so no engine-specific pow() ever runs — the
    measured columns are pure integer counts and exact-rational ratios.

    Limitation (documented, inherent): pairs below ``min_jaccard`` are
    never materialized, so the weak-pair columns measure the band
    [min_jaccard, dup_threshold), not all-pairs false positives — the
    same floor every thresholded pair pass in this module applies.

    100 TB shape: ONE exact-Jaccard pair pass (the dominant cost, same
    law as x04) + one map-only signature pass; signatures join the pair
    frame as whole arrays (one row per pair per side, never the
    n_hashes-exploded form), band collision is evaluated array-side per
    pair row (∃ band whose position slice agrees — codegen'd slice
    equality, no per-position shuffle), and the only aggregation is the
    pairs × plans → ≤ #plans-row report.

    ``sample_frac`` — the PLANNING mode this report should run in at
    scale: a deterministic md5-uniform coin on the pair key, evaluated
    once per DISTINCT pair (after the pair pass's aggregation — the
    measured placement, SCALE.md round 8: a per-co-occurrence-row coin
    saved nothing), keeps each pair with probability ``frac``, so
    everything downstream of the pair pass — the pairs × n_hashes ×
    plans agreement frame and both sweep groupBys — costs O(sample)
    instead of O(all pairs). The pair pass itself still runs in full
    (price IT with x103 before running anything). Sampled pairs keep
    exact Jaccards, so recall / weak_catch_rate are unbiased ratio
    estimates with binomial CI ≈ ±1.96·√(p(1−p)/n_sampled) per plan
    row; counts scale by 1/frac. Default None = the full pass — the
    oracle arm the sampled report is validated against (parity test:
    ``tests/test_round8.py``)."""
    # every power-of-2 divisor of n_hashes, widest banding first
    plans = [
        (b, n_hashes // b)
        for b in (2 ** k for k in range(n_hashes.bit_length() - 1, -1, -1))
        if n_hashes % b == 0
    ]
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, k=k, threshold=min_jaccard,
        pair_sample_frac=sample_frac, pair_sample_seed="lshsweep",
    )
    per_doc = (
        sig_frame.select(F.col(id_col).alias("_id"), "_sig")
        if sig_frame is not None
        else df.select(
            F.col(id_col).alias("_id"),
            minhash_signature(text_col, n_hashes, k, seed, portable).alias(
                "_sig"
            ),
        )
    )
    # Band collision is decided ARRAY-SIDE, per pair row: plan (b, r)
    # collides iff some band of r consecutive positions agrees completely
    # ⟺ ∃ band: slice(sig_a, band·r+1, r) == slice(sig_b, band·r+1, r)
    # (array equality is elementwise; signatures are dense non-null int
    # arrays, so the slice compare IS the old per-position min/max
    # reduction). The signatures join the pair frame as whole arrays —
    # one row per pair per side instead of n_hashes exploded rows — and
    # the per-(pair, plan, band) + per-(pair, plan) groupBys disappear:
    # the only aggregation left is the ≤ #plans-row report.
    def collide_expr(bands: int, r: int):
        return F.when(
            F.exists(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.slice(F.col("_sig_a"), band * r + 1, r)
                == F.slice(F.col("_sig_b"), band * r + 1, r),
            ),
            1,
        ).otherwise(0)

    plan_rows = F.array(
        *[
            F.struct(
                F.lit(bb).alias("bands"),
                F.lit(rr).alias("rows_per_band"),
                F.lit(
                    round((1.0 / bb) ** (1.0 / rr), 9) if bb > 1 else 1.0
                ).alias("s_threshold"),
                collide_expr(bb, rr).alias("_c"),
            )
            for bb, rr in plans
        ]
    )
    collide = (
        _join_back(pairs, per_doc, ("_sig",))
        .select("id_a", "id_b", "jaccard", F.explode(plan_rows).alias("_pl"))
        .select("id_a", "id_b", "jaccard", "_pl.*")
    )
    is_dup = F.col("jaccard") >= dup_threshold
    n_dup = F.sum(F.when(is_dup, 1).otherwise(0))
    n_weak = F.sum(F.when(is_dup, 0).otherwise(1))
    dup_caught = F.sum(F.when(is_dup, F.col("_c")).otherwise(0))
    weak_caught = F.sum(F.when(is_dup, 0).otherwise(F.col("_c")))
    return (
        collide.groupBy("bands", "rows_per_band", "s_threshold")
        .agg(
            n_dup.cast("bigint").alias("n_dup_pairs"),
            dup_caught.cast("bigint").alias("n_dup_caught"),
            n_weak.cast("bigint").alias("n_weak_pairs"),
            weak_caught.cast("bigint").alias("n_weak_caught"),
            F.when(
                n_dup > 0,
                F.round(
                    dup_caught.cast("double") / n_dup.cast("double"), 9
                ),
            ).alias("recall"),
            F.when(
                n_weak > 0,
                F.round(
                    weak_caught.cast("double") / n_weak.cast("double"), 9
                ),
            ).alias("weak_catch_rate"),
        )
        .orderBy(F.col("bands").desc())
    )


def pair_budget_estimate(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Pre-flight cost estimate for the inverted-index pair pass: the
    exact co-occurrence-row count the x04 shingle self-join WILL
    produce, per shingle-document-frequency bucket — computed from one
    (shingle → df) aggregation, BEFORE any join runs. Every shingle
    appearing in ``df`` documents contributes exactly df·(df−1)/2
    candidate rows, so Σ over shingles is the join's output size: the
    capacity-planning number that decides between the inverted-index
    and prefix-filtered plans (and whether a hot-shingle cap is needed)
    without paying for the join to find out.

    Output per power-of-2 df bucket: (df_bucket_lo BIGINT, n_shingles
    BIGINT, pair_candidates BIGINT) — all exact integers. The heavy
    tail is the actionable part: a single df=10⁵ shingle contributes
    ~5·10⁹ rows on its own.

    100 TB shape: ONE (shingle) exchange with map-side combine to the
    vocabulary-bounded df frame, then a ≤ ~40-key bucket rollup.
    Strictly cheaper than the join it prices — this is the estimator a
    dedup scheduler runs FIRST."""
    inv = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(text_col, k)).alias("_s"),
    )
    dfreq = inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    bucket = F.pow(
        F.lit(2.0), F.floor(F.log2(F.col("_df").cast("double")))
    ).cast("bigint")
    # integer div: the double-division form loses precision once
    # df·(df−1) passes 2^53 — exactly the hot-shingle regime this
    # estimator exists to flag
    pairs = F.expr("_df * (_df - 1) div 2")
    return (
        dfreq.select(bucket.alias("df_bucket_lo"), pairs.alias("_p"))
        .groupBy("df_bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("_p").alias("pair_candidates"),
        )
        .orderBy("df_bucket_lo")
    )


def _cooccurrence_cost(keyed: DataFrame, key_col: str) -> int:
    """Σ m·(m−1)/2 over the key histogram — the exact candidate-pair
    row count a self-join on ``key_col`` will produce (the x103 law).
    One key exchange with map-side combine + a single-row sum; never
    runs the join it prices."""
    row = (
        keyed.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_m"))
        .agg(F.sum(F.expr("_m * (_m - 1) div 2")).alias("_c"))
        .collect()[0]
    )
    return int(row["_c"] or 0)


def blocking_cost_stats(
    df: DataFrame,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    winnow_w: int = 4,
    portable: bool = False,
    sigs: DataFrame | None = None,
) -> dict:
    """The :func:`choose_blocking` pricing HISTOGRAM as a standalone,
    cacheable product: ``{"e": cost, "m": cost, "w": cost, "n_docs": n}``
    — each histogram discipline's exact candidate-pair count (Σ
    m·(m−1)/2 over its own blocking keys) plus the corpus row count.
    A pure function of (corpus, k, n_hashes, bands, winnow_w, portable)
    — notably INDEPENDENT of the recall contract (min_recall /
    pair_budget / threshold enter only the planner's arithmetic) — so
    one stats table prices every contract over the same corpus
    (session-shared by queries/extensions/_shared.shared_blocking_stats;
    optimization r14, guide §1.2 step 1).

    ONE job prices all three histogram disciplines AND counts docs
    (r9 rewrite — was FOUR separate Spark jobs: a count() plus one
    scan+exchange per discipline; measured 6.4 s at sf0.1, ~3.4 s as
    this union). Keys are tag-prefixed ("e:"/"m:"/"w:", "#" = one
    marker per doc) so per-discipline multiplicities are EXACTLY the
    separate passes' — costs are bit-identical and the x120 oracle is
    unchanged. The tagged streams stay SEPARATE union branches (each
    its own codegen-friendly projection): fusing all three expensive
    expressions into one concat+explode projection was measured
    SLOWER (11.9 s — the combined expression tree falls out of
    whole-stage codegen), the same reason the banding join carries
    slim rows. One exchange on the union replaces three; at 100 TB
    the shuffle volume is the same keys, one stage instead of four.

    ``sigs``: optional pre-fitted (_id, _sig) frame at the SAME params
    (the shared-sketch discipline) — prices the band discipline from
    the materialized signature table instead of re-hashing the corpus.
    """
    sh = df.select(F.explode(word_shingles(text_col, k)).alias("_k")).select(
        F.concat(F.lit("e:"), F.col("_k")).alias("_key")
    )
    bd = (
        df.select(
            minhash_signature(text_col, n_hashes, k, 42, portable).alias(
                "_sig"
            )
        )
        if sigs is None
        else sigs.select("_sig")
    )
    bd = (
        bd.select(
            F.explode(_band_struct_array(n_hashes, bands, portable)).alias(
                "bd"
            )
        )
        .select(
            F.concat_ws(":", F.lit("m"), "bd.band", "bd.bh").alias("_key")
        )
    )
    wn = df.select(
        F.explode(
            winnow_fingerprints_expr(text_col, k, winnow_w, portable)
        ).alias("_k")
    ).select(F.concat(F.lit("w:"), F.col("_k").cast("string")).alias("_key"))
    mk = df.select(F.lit("#").alias("_key"))
    per = (
        sh.unionByName(bd)
        .unionByName(wn)
        .unionByName(mk)
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_m"))
        .groupBy(F.substring("_key", 1, 1).alias("_d"))
        .agg(
            F.sum(F.expr("_m * (_m - 1) div 2")).alias("_c"),
            F.sum("_m").alias("_n"),
        )
        .collect()
    )
    rows = {r["_d"]: r for r in per}
    return {
        "e": int(rows["e"]["_c"] or 0) if "e" in rows else 0,
        "m": int(rows["m"]["_c"] or 0) if "m" in rows else 0,
        "w": int(rows["w"]["_c"] or 0) if "w" in rows else 0,
        "n_docs": int(rows["#"]["_n"]) if "#" in rows else 0,
    }


def choose_blocking(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_recall: float,
    pair_budget: int,
    threshold: float = 0.5,
    k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    window: int = 3,
    snm_keys: tuple | None = None,
    winnow_w: int = 4,
    measured_recall: dict | None = None,
    portable: bool = False,
    measure: bool = False,
    measure_sample_docs: int = 2000,
    sigs: DataFrame | None = None,
    stats: dict | None = None,
) -> dict:
    """Unified blocking-discipline PLANNER (r8 verdict Next #5 — the
    engine's one genuinely novel optimizer rule, SURVEY §4.3): given a
    recall contract (``min_recall`` for near-dup pairs at Jaccard ≥
    ``threshold``) and a candidate-pair ``pair_budget``, price all four
    blocking disciplines from their key histograms WITHOUT running any
    pair join, and return the cheapest one that meets the contract.

    Cost = the exact candidate-pair count each discipline's
    verification stage will touch, each from the x103 co-occurrence law
    (Σ m·(m−1)/2 over that discipline's OWN blocking keys — shingles /
    LSH band buckets / winnowed fingerprints), or pure arithmetic
    (sorted-neighborhood: n·window·len(keys), the only skew-immune
    bound). Pricing a discipline costs one map-only pass + one bounded
    aggregation — strictly cheaper than the join it prices. ``stats``:
    a pre-computed :func:`blocking_cost_stats` table for this corpus
    and (k, n_hashes, bands, winnow_w, portable) — skips the pricing
    job entirely (the planner is then pure arithmetic); the contract
    knobs (min_recall / pair_budget / threshold / window / snm_keys)
    never enter the job, so one table serves every contract.

    Recall per discipline:
      * ``exact_index`` (x04): 1.0 — exact.
      * ``minhash_bands`` (x02): the analytic S-curve LOWER bound at
        the contract boundary, 1−(1−t^r)^b with r = n_hashes/bands —
        pairs above ``threshold`` collide with at least this
        probability, so it is a true worst-case contract.
      * ``winnow_index`` (x113) and ``sorted_neighborhood`` (x119):
        guarantee classes that do not translate to a Jaccard recall in
        closed form (winnowing guarantees ≥(w+k−1)-token shared runs;
        SNM is key-design-bounded — SCALE.md measures 0.93 multi-key) —
        they are ELIGIBLE only when the caller supplies a measured
        recall for this corpus shape (``measured_recall`` — the x100
        sampled sweep is the instrument).

    Returns a dict: ``action`` ∈ {"proceed", "over_budget",
    "no_discipline"}, ``chosen`` (discipline name or None), and
    ``disciplines`` — per discipline (cost, recall, eligible,
    within_budget). "over_budget" names the cheapest contract-meeting
    discipline anyway so the caller can decide to raise the budget;
    "no_discipline" means the contract itself is unmeetable (raise
    ``min_recall`` tooling: run the x100 sweep and pass
    ``measured_recall``)."""
    if not 0.0 <= min_recall <= 1.0:
        raise ValueError("min_recall must be in [0, 1]")
    if pair_budget < 0:
        raise ValueError("pair_budget must be >= 0")
    measured = measured_recall or {}
    if snm_keys is None:
        snm_keys = _SNM_KEYS  # defined with the SNM family below
    if stats is None:
        stats = blocking_cost_stats(
            df, text_col, k=k, n_hashes=n_hashes, bands=bands,
            winnow_w=winnow_w, portable=portable, sigs=sigs,
        )

    def _cost(tag: str) -> int:
        return int(stats.get(tag, 0))

    n_docs = int(stats.get("n_docs", 0))
    exact_cost = _cost("e")
    minhash_cost = _cost("m")
    winnow_cost = _cost("w")
    r = n_hashes // bands
    s_curve = 1.0 - (1.0 - threshold**r) ** bands
    disciplines = {
        "exact_index": {"cost": exact_cost, "recall": 1.0},
        "minhash_bands": {
            "cost": minhash_cost, "recall": round(s_curve, 6)
        },
        "winnow_index": {
            "cost": winnow_cost, "recall": measured.get("winnow_index")
        },
        "sorted_neighborhood": {
            "cost": n_docs * window * len(snm_keys),
            "recall": measured.get("sorted_neighborhood"),
        },
    }
    plan = {
        "disciplines": disciplines,
        "n_docs": n_docs,
        "min_recall": min_recall,
        "pair_budget": pair_budget,
        "threshold": threshold,
    }

    def _decide() -> None:
        for d in disciplines.values():
            d["eligible"] = (
                d["recall"] is not None and d["recall"] >= min_recall
            )
            d["within_budget"] = d["cost"] <= pair_budget
        eligible = sorted(
            (name for name, d in disciplines.items() if d["eligible"]),
            key=lambda name: disciplines[name]["cost"],
        )
        if not eligible:
            plan.update(action="no_discipline", chosen=None)
        elif disciplines[eligible[0]]["within_budget"]:
            plan.update(action="proceed", chosen=eligible[0])
        else:
            plan.update(action="over_budget", chosen=eligible[0])

    _decide()
    if measure and plan["action"] != "proceed":
        # the histogram disciplines busted the budget (or the contract):
        # run the planner's OWN instrument for the guarantee-class
        # disciplines nobody supplied a recall for — one sampled
        # exact-pair job — and re-decide (r9 verdict Next #4: the
        # SCALE.md part-7 flip without a hand-carried recall dict)
        missing = tuple(
            name
            for name in ("winnow_index", "sorted_neighborhood")
            if disciplines[name]["recall"] is None
        )
        if missing:
            inst = measure_blocking_recall(
                df, id_col, text_col, which=missing,
                threshold=threshold, k=k, window=window,
                snm_keys=snm_keys, winnow_w=winnow_w, portable=portable,
                sample_docs=measure_sample_docs,
            )
            for name, rec in inst.items():
                disciplines[name]["recall"] = rec
                disciplines[name]["recall_source"] = "instrument"
            plan["instrument_recall"] = inst
            _decide()
    plan["params"] = {
        "k": k, "n_hashes": n_hashes, "bands": bands, "window": window,
        "snm_keys": tuple(snm_keys), "winnow_w": winnow_w,
        "portable": portable,
    }
    return plan


def measure_blocking_recall(
    df: DataFrame,
    id_col: str,
    text_col: str,
    which: tuple = ("winnow_index", "sorted_neighborhood"),
    threshold: float = 0.5,
    k: int = 3,
    window: int = 3,
    key_len: int = 20,
    snm_keys: tuple | None = None,
    winnow_w: int = 4,
    portable: bool = False,
    sample_docs: int = 2000,
) -> dict:
    """The planner's own RECALL INSTRUMENT (r9 verdict Next #4 — the
    x100 sampled-sweep discipline as a callable): estimate each
    guarantee-class discipline's pair recall at Jaccard ≥ ``threshold``
    on a deterministic md5-hash-ordered DOC sample — ground truth is
    the exact inverted-index pairs (x04) over the SAMPLE (bounded:
    sample_docs² worst case, in practice the sample's co-occurrence
    law), found = the discipline's pairs over the same sample, recall
    = \\|found ∩ GT\\| / \\|GT\\|. One sampled exact-pair job per call —
    the price of making winnowing/SNM eligible without a hand-carried
    recall dict.

    Returns {discipline: recall float} — a discipline is ABSENT when
    the sample contains no ground-truth pair (nothing to measure; the
    caller should widen the sample). Honest-estimate caveat
    (documented, matches SCALE.md "Round-9 part 1: multi-key SNM recall
    lift"): doc-sampling removes intervening docs, which can flatter
    rank-adjacency disciplines on sparse corpora — treat the estimate
    as the instrument's reading, not a guarantee class."""
    if snm_keys is None:
        snm_keys = _SNM_KEYS
    samp = (
        df.select(id_col, text_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(int(sample_docs))
        .localCheckpoint()
    )
    gt = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            samp, id_col, text_col, k=k, threshold=threshold
        ).collect()
    }
    if not gt:
        return {}
    out: dict = {}
    for name in which:
        if name == "winnow_index":
            # winnowing SCREENS candidates; recall of the verified pair
            # set = screened candidates that are true pairs / GT
            cand = {
                (r["id_a"], r["id_b"])
                for r in winnow_pair_screen(
                    samp, id_col, text_col, k=k, w=winnow_w,
                    portable=portable,
                ).collect()
            }
            found = cand & gt
        elif name == "sorted_neighborhood":
            found = {
                (r["id_a"], r["id_b"])
                for r in sorted_neighborhood_pairs(
                    samp, id_col, text_col, window=window,
                    key_len=key_len, threshold=threshold, k=k,
                    keys=snm_keys,
                ).collect()
            } & gt
        else:
            raise ValueError(
                f"no instrument for discipline {name!r} "
                "(exact/minhash have analytic recall)"
            )
        out[name] = round(len(found) / len(gt), 6)
    return out


def run_blocking(
    df: DataFrame,
    id_col: str,
    text_col: str,
    plan: dict,
    slack: float = 1.5,
    key_len: int = 20,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Execute the discipline a :func:`choose_blocking` plan chose, with
    the priced contract ENFORCED (r9 verdict Next #3): the output pair
    frame carries a LAZY in-plan guard (`raise_error`, the x117
    discipline — no extra job) that re-derives the realized candidate
    count from the CURRENT corpus via the same co-occurrence law the
    planner priced with, and aborts the job if it exceeds the plan's
    estimate × ``slack``. A corpus that mutated between pricing and
    execution — the TOCTOU window every cost-based optimizer has —
    fails fast at the first output evaluation instead of silently
    running a candidate join the budget never sanctioned.

    The guard's cost is one bounded key-histogram aggregation riding
    the same action (the pricing pass's shape — strictly cheaper than
    the pair join it protects); it is broadcast as a 1-row frame into
    the output plan, so the pair join itself only starts work under a
    verified count. An empty pair output never evaluates the guard
    (no rows to carry it) — harmless, since no budget is spent either.

    Output contract (uniform across disciplines — ADVICE r10 #3):
    every branch returns THRESHOLD-VERIFIED pairs (id_a < id_b, with a
    similarity column ≥ the plan's threshold). The winnow screen's
    candidates are verified with the exact k-gram Jaccard on the
    candidate set before returning — a caller switching plans sees the
    same semantics from every discipline.

    ``plan`` must carry ``action == "proceed"`` (anything else raises:
    an over-budget or contract-less plan is not runnable) and the
    ``params`` block choose_blocking stamped."""
    if plan.get("action") != "proceed":
        raise ValueError(
            f"plan is not runnable: action={plan.get('action')!r} "
            f"(chosen={plan.get('chosen')!r}); raise pair_budget or "
            f"supply measured_recall and re-plan"
        )
    chosen = plan["chosen"]
    p = plan["params"]
    threshold = plan["threshold"]
    k, n_hashes, bands = p["k"], p["n_hashes"], p["bands"]
    window, snm_keys = p["window"], tuple(p["snm_keys"])
    winnow_w, portable = p["winnow_w"], p["portable"]
    est = int(plan["disciplines"][chosen]["cost"])
    cap = int(est * slack)

    # realized candidate count from the CURRENT corpus — same law,
    # same keys as the pricing pass
    if chosen == "exact_index":
        keyed = df.select(
            F.explode(word_shingles(text_col, k)).alias("_k")
        )
        pairs = ngram_jaccard_pairs(df, id_col, text_col, k, threshold)
    elif chosen == "minhash_bands":
        # ``sigs``: optional pre-fitted (_id, _sig) frame at the SAME
        # params — both the realized-count keys and the pair join read
        # the materialized signature table (no second corpus hash)
        keyed = (
            df.select(
                minhash_signature(
                    text_col, n_hashes, k, 42, portable
                ).alias("_sig")
            )
            if sigs is None
            else sigs.select("_sig")
        )
        keyed = keyed.select(
            F.explode(
                _band_struct_array(n_hashes, bands, portable)
            ).alias("bd")
        ).select(F.concat_ws(":", "bd.band", "bd.bh").alias("_k"))
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, n_hashes, bands, k, threshold, 42,
            portable, sigs=sigs,
        )
    elif chosen == "winnow_index":
        keyed = df.select(
            F.explode(
                winnow_fingerprints_expr(text_col, k, winnow_w, portable)
            ).alias("_k")
        )
        # winnowing SCREENS candidates; to keep run_blocking's output
        # contract uniform across disciplines (threshold-verified pairs
        # — ADVICE r10 #3) the candidates are verified with the exact
        # k-gram Jaccard on the CANDIDATE SET only (join through the
        # shingle arrays; bounded by the priced candidate count, never
        # the full pair space)
        pairs = _verified_jaccard(
            winnow_pair_screen(
                df, id_col, text_col, k=k, w=winnow_w, portable=portable
            ),
            df.select(
                F.col(id_col).alias("_id"),
                word_shingles(text_col, k).alias("_sh"),
            ),
            threshold,
        )
    elif chosen == "sorted_neighborhood":
        # SNM candidates are EXACTLY n·window·len(keys) — the realized
        # count is arithmetic on the current doc count
        keyed = None
        pairs = sorted_neighborhood_pairs(
            df, id_col, text_col, window=window, key_len=key_len,
            threshold=threshold, k=k, keys=snm_keys,
        )
    else:  # pragma: no cover — planner only emits the four above
        raise ValueError(f"unknown discipline {chosen!r}")

    if keyed is None:
        realized = df.agg(
            (F.count(F.lit(1)) * window * len(snm_keys)).alias("_realized")
        )
    else:
        realized = (
            keyed.groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_m"))
            .agg(
                F.coalesce(
                    F.sum(F.expr("_m * (_m - 1) div 2")), F.lit(0)
                ).alias("_realized")
            )
        )
    guard = F.when(
        F.col("_realized") > cap,
        F.raise_error(
            F.format_string(
                "run_blocking: realized candidate count %s for "
                f"discipline '{chosen}' exceeds the priced estimate "
                f"{est} x slack {slack} = {cap}; the corpus changed "
                "after pricing - re-run choose_blocking",
                F.col("_realized").cast("string"),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    return (
        pairs.crossJoin(F.broadcast(realized))
        .filter(guard)
        .drop("_realized")
    )


def sketch_screen_matches(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sketches: list[list[int]],
    threshold: float = 0.5,
    n_hashes: int = 64,
    k: int = 3,
    seed: int = 42,
    portable: bool = False,
    sig_frame: DataFrame | None = None,
) -> DataFrame:
    """Relational BATCH twin of :func:`neardup_hits_expr` — identical
    output ((id, n_matches) for docs agreeing with ≥ 1 blocklist sketch
    at est ≥ threshold), different physical plan: instead of evaluating
    |blocklist| × n_hashes interpreted lambda ops per row, the doc
    signatures posexplode to (id, pos, value) and hash-join a BROADCAST
    (sketch, pos, value) frame on (pos, value) — only positions that
    actually COLLIDE produce rows, so the work is proportional to real
    agreement, not to the blocklist size (measured ~10× on the sf0.1
    screen; the per-row expression stays the STREAMING arm, where no
    shuffle is allowed — same trade as x30's window-vs-threshold
    split). Position-wise equality through a join is the same predicate
    zip_with evaluates, so the two arms are result-identical (pinned in
    tests) and share the oracle.

    ``sig_frame``: optional pre-fitted frame with columns (id_col,
    _sig) — same params — so a pipeline running the screen beside other
    sketch audits hashes the corpus once (shared-sketch discipline)."""
    if not sketches:
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, n_matches bigint"
        )
    floor = int(-(-threshold * n_hashes // 1))  # ceil(threshold·n)
    spark = df.sparkSession
    b = spark.createDataFrame(
        [
            (si, p, int(v))
            for si, s in enumerate(sketches)
            for p, v in enumerate(s)
        ],
        "_sk int, _p int, _v long",
    )
    per_doc = (
        sig_frame.select(F.col(id_col).alias("_id"), "_sig")
        if sig_frame is not None
        else df.select(
            F.col(id_col).alias("_id"),
            minhash_signature(text_col, n_hashes, k, seed, portable).alias(
                "_sig"
            ),
        )
    )
    sig = per_doc.select("_id", F.posexplode("_sig").alias("_p", "_v"))
    return (
        sig.join(F.broadcast(b), ["_p", "_v"])
        .groupBy("_id", "_sk")
        .agg(F.count(F.lit(1)).alias("_agree"))
        .filter(F.col("_agree") >= floor)
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .select(F.col("_id").alias(id_col), "n_matches")
    )


def winnow_fingerprints_expr(
    text: Column | str, k: int = 3, w: int = 4, portable: bool = False
) -> Column:
    """array<bigint> of WINNOWING fingerprints (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 — the MOSS algorithm): hash every word-k-gram in
    POSITION order, slide a window of ``w`` consecutive hashes, keep the
    minimum of each window, dedupe. The selection guarantee that makes
    this a dedup primitive rather than a sample: any run of ≥ w+k−1
    shared tokens between two documents yields ≥ 1 SHARED fingerprint
    (every length-w hash window inside the run is common to both docs,
    and each doc picks some window minimum from it — minima of identical
    windows are identical). Expected density 2/(w+1) of the k-gram
    hashes, so the downstream inverted index is ~2/(w+1) the size of
    x04's full-shingle index with a DETECTION guarantee x02's
    probabilistic banding cannot give.

    Pure array expression (zero shuffles): positional k-gram hashes are
    let-bound once, the window mins are a transform over an index
    sequence (O(n·w) array ops per row). Docs with ≥ 1 k-gram but fewer
    than ``w`` of them keep their single global minimum (one window,
    shorter than w); docs under k tokens have no k-grams → empty."""
    hs = _shingle_hashes(text, k, portable, distinct=False)

    def body(h: Column) -> Column:
        n = F.size(h)
        return (
            F.when(
                n >= w,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), n - (w - 1)),
                        lambda i: F.array_min(F.slice(h, i, w)),
                    )
                ),
            )
            .when(n >= 1, F.array(F.array_min(h)))
            .otherwise(F.array().cast("array<bigint>"))
        )

    return _let(hs, body)


def winnow_pair_screen(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 1,
    portable: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs by SHARED WINNOWING FINGERPRINTS — the
    guaranteed-detection screen between x04 (exact Jaccard: full shingle
    index, exact but heaviest) and x02 (MinHash banding: cheap but
    probabilistic recall): any pair sharing a token run of ≥ w+k−1
    words surfaces here with certainty, at ~2/(w+1) of x04's index
    size. The pair-count law is x04's (Σ df·(df−1)/2 over FINGERPRINT
    frequencies), so :func:`pair_budget_estimate`'s pre-flight pricing
    applies unchanged to the winnowed index.

    Output: (id_a, id_b, n_shared BIGINT) for pairs sharing ≥
    ``min_shared`` fingerprints, id_a < id_b.

    100 TB shape: fingerprints are a per-row array expression (no
    shuffle), ONE exchange on the fingerprint key for the inverted-index
    self-join (:func:`_blocked_pairs`), map-side-combined pair counts. Hot fingerprints
    (boilerplate runs) follow the same skew law as hot shingles — AQE
    skew splitting plus the budget estimator are the controls."""
    fp = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            winnow_fingerprints_expr(text_col, k, w, portable)
        ).alias("_f"),
    )
    return (
        _blocked_pairs(fp, ("_f",))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
        .orderBy("id_a", "id_b")
    )


def duck_winnow_pair_screen_sql(
    tbl: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 1,
) -> str:
    """DuckDB mirror of :func:`winnow_pair_screen` (portable arm) — the
    same md5-prefix token hashes, Horner k-gram combine in position
    order, window minima, distinct, inverted-index join."""
    sh_e = "th[i]"
    for j in range(1, k):
        sh_e = f"(({sh_e}) * {_SHINGLE_A} + th[i+{j}]) % {_P31}"
    return f"""
    WITH t AS (
      SELECT {id_col} AS _id,
             list_transform(string_split({text_col}, ' '),
                            t -> {_DUCK_TOKEN_HASH.format(t='t')} % {_P31})
               AS th
      FROM {tbl}
    ),
    kg AS (
      SELECT _id,
             CASE WHEN len(th) >= {k}
                  THEN [{sh_e} for i in range(1, len(th) - {k - 2})]
                  ELSE CAST([] AS BIGINT[]) END AS kgh
      FROM t
    ),
    fp AS (
      SELECT _id,
             CASE WHEN len(kgh) >= {w}
                  THEN list_distinct([list_min(kgh[i:i+{w - 1}])
                                      for i in range(1, len(kgh) - {w - 2})])
                  WHEN len(kgh) >= 1 THEN [list_min(kgh)]
                  ELSE CAST([] AS BIGINT[]) END AS f
      FROM kg
    ),
    inv AS (SELECT _id, unnest(f) AS f FROM fp)
    SELECT a._id AS id_a, b._id AS id_b, count(*) AS n_shared
    FROM inv a JOIN inv b ON a.f = b.f AND a._id < b._id
    GROUP BY a._id, b._id
    HAVING count(*) >= {int(min_shared)}
    ORDER BY id_a, id_b
    """


#: The multi-pass SNM sort-key family (Hernández & Stolfo's multi-key
#: remedy): ``prefix`` = normalized-text prefix (the x115 single key),
#: ``reversed`` = prefix of the REVERSED normalized text (catches pairs
#: whose heads diverge but tails agree), ``token_sorted`` = prefix of
#: the alphabetically-sorted token sequence (catches token reorders).
_SNM_KEYS = ("prefix", "reversed", "token_sorted")


def _snm_key_expr(text_col: str, kind: str, key_len: int) -> Column:
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    if kind == "prefix":
        return F.substring(norm, 1, key_len)
    if kind == "reversed":
        return F.substring(F.reverse(norm), 1, key_len)
    if kind == "token_sorted":
        return F.substring(
            F.array_join(F.array_sort(F.split(norm, " ")), " "),
            1,
            key_len,
        )
    raise ValueError(f"unknown SNM key kind: {kind!r} (use {_SNM_KEYS})")


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    key_len: int = 20,
    threshold: float = 0.3,
    k: int = 3,
    keys: tuple = ("prefix",),
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD'95 — the
    classic record-linkage blocking strategy): sort the corpus by a
    normalized sort key (the first ``key_len`` chars of the
    lowercase/alnum-collapsed text), slide a window of ``window`` over
    the GLOBAL order, verify only rank-adjacent pairs with exact
    word-k-shingle Jaccard. The third blocking discipline of the dedup
    family, with a different guarantee again: x04 indexes content
    (finds any shingle overlap, heaviest), x113 windows hashes (finds
    shared runs, guaranteed), this sorts keys — candidates are bounded
    at EXACTLY n·window·len(keys) regardless of duplication skew (no
    hot-shingle blowup is possible, the property the other two buy with
    estimators and caps), at the cost of missing pairs whose sort keys
    diverge.

    ``keys`` (round-9): the MULTI-PASS remedy for that recall trade —
    one blocking pass per named key from :data:`_SNM_KEYS` (``prefix``,
    ``reversed``, ``token_sorted``), candidate sets unioned and
    de-duplicated BEFORE the single verification join, so each
    surviving pair is verified exactly once. Recall lift is measured on
    the salted-clique corpus in SCALE.md; the single-key default keeps
    the x115 contract (and oracle) unchanged.

    Output: (id_a, id_b, jaccard) for rank-window pairs with exact
    Jaccard ≥ ``threshold``, id_a < id_b, ordered.

    100 TB shape: each pass's global order comes from
    :func:`~go_fish_spark.operators.sampling.value_bucketed_rank`
    (bounded first-character buckets → broadcast offsets; NO
    single-task window), the window join is ``window`` equi-joins on
    rank+d (explode d — a range join rewritten as equi), candidate
    generation is n·window rows per pass, and exact verification
    touches the distinct union once."""
    if window < 1:
        raise ValueError("window must be >= 1")
    if not keys:
        raise ValueError("keys must name at least one SNM pass")
    from .sampling import value_bucketed_rank

    d = df.sparkSession.range(1, window + 1).select(
        F.col("id").alias("_d")
    )
    if len(keys) == 1:
        # single-pass fast path (the x115 plan shape): carry the
        # shingles THROUGH the rank exchange and verify inline — no
        # verification join, no pair dedupe (one pass's rank-window
        # pairs are already unique). The multi-key path below trades
        # these two joins for cross-pass dedupe before verification.
        base = df.select(
            F.col(id_col).alias("_id"),
            _snm_key_expr(text_col, keys[0], key_len).alias("_key"),
            word_shingles(text_col, k).alias("_sh"),
        )
        ranked1 = _persist(
            value_bucketed_rank(
                base, F.substring("_key", 1, 1), ["_key", "_id"], out="_r"
            ).select("_id", "_r", "_sh")
        )
        a1 = ranked1.select(
            F.col("_id").alias("_ida"), F.col("_r").alias("_ra"),
            F.col("_sh").alias("_sha"),
        ).crossJoin(F.broadcast(d))
        b1 = ranked1.select(
            F.col("_id").alias("_idb"), F.col("_r").alias("_rb"),
            F.col("_sh").alias("_shb"),
        )
        return (
            a1.join(b1, F.col("_ra") + F.col("_d") == F.col("_rb"))
            .select(
                F.least("_ida", "_idb").alias("id_a"),
                F.greatest("_ida", "_idb").alias("id_b"),
                _shingle_jaccard("_sha", "_shb").alias("jaccard"),
            )
            .filter(
                (F.col("jaccard") >= threshold)
                & F.col("jaccard").isNotNull()
            )
            .orderBy("id_a", "id_b")
        )

    shingles = _persist(
        df.select(
            F.col(id_col).alias("_id"),
            word_shingles(text_col, k).alias("_sh"),
        )
    )
    # ONE rank pipeline for all passes (optimization r14, guide §2.4):
    # the per-kind loop ran len(keys) full rank pipelines — each a scan
    # + bucket-histogram exchange + offsets broadcast + rank-window
    # exchange + window join (26 Exchanges in the x119 plan). All
    # passes instead ride ONE composite order (_kind, _key, _id): the
    # GLOBAL rank over that order preserves every within-kind rank
    # difference exactly (buckets sort kind-first, so all buckets
    # between two same-kind rows belong to that kind), and the window
    # join adds `_kind` to its equi-key so cross-kind adjacencies —
    # rows that touch only because one kind's tail abuts the next's
    # head — can never pair. Candidates are therefore IDENTICAL pairs
    # to the per-kind loop (asserted against the loop in
    # tests/test_round14_opt.py); the oracle is unchanged. The kinds
    # stay separate union branches (not one explode projection) for
    # the same whole-stage-codegen reason as choose_blocking's
    # histogram union; the bucket is a (kind, first-char) STRUCT so
    # NULL/empty keys keep exactly the per-kind bucket identities.
    keyed = None
    for kind in keys:
        branch = df.select(
            F.col(id_col).alias("_id"),
            F.lit(kind).alias("_kind"),
            _snm_key_expr(text_col, kind, key_len).alias("_key"),
        )
        keyed = branch if keyed is None else keyed.unionByName(branch)
    ranked = value_bucketed_rank(
        keyed,
        F.struct(F.col("_kind"), F.substring("_key", 1, 1)),
        ["_kind", "_key", "_id"],
        out="_r",
    ).select("_id", "_kind", "_r")
    a = ranked.select(
        F.col("_id").alias("_ida"), F.col("_kind").alias("_ka"),
        F.col("_r").alias("_ra"),
    ).crossJoin(F.broadcast(d))
    b = ranked.select(
        F.col("_id").alias("_idb"), F.col("_kind").alias("_kb"),
        F.col("_r").alias("_rb"),
    )
    cand = (
        a.join(
            b,
            (F.col("_ka") == F.col("_kb"))
            & (F.col("_ra") + F.col("_d") == F.col("_rb")),
        )
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    return _verified_jaccard(cand, shingles, threshold).orderBy(
        "id_a", "id_b"
    )


def duck_sorted_neighborhood_sql(
    tbl: str,
    id_col: str,
    text_col: str,
    window: int = 3,
    key_len: int = 20,
    threshold: float = 0.3,
) -> str:
    """DuckDB mirror of :func:`sorted_neighborhood_pairs` (k=3) — same
    normalized sort key, same (key, id) total order via row_number, a
    range join on the rank gap, the same exact-Jaccard verification."""
    from ..queries.extensions._shared import _DUCK_SHINGLES

    return f"""
    WITH r AS (
      SELECT {id_col} AS _id,
             row_number() OVER (
               ORDER BY substr(trim(regexp_replace(lower({text_col}),
                                     '[^a-z0-9]+', ' ', 'g')),
                        1, {int(key_len)}),
                        {id_col}
             ) AS _r
      FROM {tbl}
    ),
    s AS (
      SELECT {id_col} AS _id, {_DUCK_SHINGLES} AS sh
      FROM (SELECT {id_col}, string_split({text_col}, ' ') AS ws
            FROM {tbl})
    ),
    cand AS (
      SELECT a._id AS ia, b._id AS ib
      FROM r a JOIN r b ON b._r - a._r BETWEEN 1 AND {int(window)}
    )
    SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
           CASE WHEN len(sa.sh) + len(sb.sh)
                     - len(list_intersect(sa.sh, sb.sh)) > 0
                THEN len(list_intersect(sa.sh, sb.sh))
                     / (len(sa.sh) + len(sb.sh)
                        - len(list_intersect(sa.sh, sb.sh)))
           END AS jaccard
    FROM cand
    JOIN s sa ON sa._id = cand.ia
    JOIN s sb ON sb._id = cand.ib
    WHERE jaccard >= {threshold} AND jaccard IS NOT NULL
    ORDER BY id_a, id_b
    """


def duck_multikey_snm_sql(
    tbl: str,
    id_col: str,
    text_col: str,
    window: int = 3,
    key_len: int = 20,
    threshold: float = 0.3,
    keys: tuple = _SNM_KEYS,
) -> str:
    """DuckDB mirror of ``sorted_neighborhood_pairs(..., keys=keys)`` —
    one row_number order per sort key, candidate sets unioned DISTINCT,
    one exact-Jaccard verification."""
    from ..queries.extensions._shared import _DUCK_SHINGLES

    norm = (
        f"trim(regexp_replace(lower({text_col}), '[^a-z0-9]+', ' ', 'g'))"
    )
    key_sql = {
        "prefix": f"substr({norm}, 1, {int(key_len)})",
        "reversed": f"substr(reverse({norm}), 1, {int(key_len)})",
        "token_sorted": (
            f"substr(array_to_string(list_sort(string_split({norm}, ' ')),"
            f" ' '), 1, {int(key_len)})"
        ),
    }
    rank_ctes = ",\n    ".join(
        f"r{i} AS (SELECT {id_col} AS _id, row_number() OVER ("
        f"ORDER BY {key_sql[kind]}, {id_col}) AS _r FROM {tbl})"
        for i, kind in enumerate(keys)
    )
    cand_union = "\n      UNION\n      ".join(
        f"SELECT least(a._id, b._id) AS ia, greatest(a._id, b._id) AS ib "
        f"FROM r{i} a JOIN r{i} b "
        f"ON b._r - a._r BETWEEN 1 AND {int(window)}"
        for i in range(len(keys))
    )
    return f"""
    WITH {rank_ctes},
    cand AS (
      {cand_union}
    ),
    s AS (
      SELECT {id_col} AS _id, {_DUCK_SHINGLES} AS sh
      FROM (SELECT {id_col}, string_split({text_col}, ' ') AS ws
            FROM {tbl})
    )
    SELECT ia AS id_a, ib AS id_b,
           CASE WHEN len(sa.sh) + len(sb.sh)
                     - len(list_intersect(sa.sh, sb.sh)) > 0
                THEN len(list_intersect(sa.sh, sb.sh))
                     / (len(sa.sh) + len(sb.sh)
                        - len(list_intersect(sa.sh, sb.sh)))
           END AS jaccard
    FROM cand
    JOIN s sa ON sa._id = cand.ia
    JOIN s sb ON sb._id = cand.ib
    WHERE jaccard >= {threshold} AND jaccard IS NOT NULL
    ORDER BY id_a, id_b
    """


def edit_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    key_len: int = 20,
    max_dist: int = 40,
) -> DataFrame:
    """Edit-distance-verified near-dup pairs: sorted-neighborhood
    blocking (Hernández & Stolfo '95, the x115 discipline — candidates
    bounded at EXACTLY n·window regardless of skew) verified with the
    EXACT character-level Levenshtein distance instead of shingle
    Jaccard — the verifier of record when near-dups differ by small
    in-place edits (typo farms, template fills) that leave most
    shingles intact but also when token order is untouched and only
    characters drift, where Jaccard over-scores.

    Two cost guards keep verification affordable at corpus scale:

    * the length prefilter ``|len(a) − len(b)| ≤ max_dist`` is applied
      IN the candidate join (edit distance is ≥ the length difference,
      so this drops only pairs that could never pass — free, exact);
    * Spark's three-argument ``levenshtein(a, b, threshold)`` abandons
      each DP computation as soon as the running minimum exceeds
      ``max_dist`` (banded O(len·k) instead of O(len²) per pair).

    Output: (id_a, id_b, lev BIGINT, sim DOUBLE round-6) with
    ``sim = 1 − lev / max(len_a, len_b)``, id_a < id_b, ordered.

    100 TB shape: identical to x115 — the global order comes from
    value_bucketed_rank (no single-task window), text rides the one
    rank exchange exactly as shingles do there, and the window join is
    ``window`` equi-joins on rank+d."""
    if window < 1:
        raise ValueError("window must be >= 1")
    from .sampling import value_bucketed_rank

    d = df.sparkSession.range(1, window + 1).select(F.col("id").alias("_d"))
    base = df.select(
        F.col(id_col).alias("_id"),
        _snm_key_expr(text_col, "prefix", key_len).alias("_key"),
        F.col(text_col).alias("_t"),
    )
    ranked = _persist(
        value_bucketed_rank(
            base, F.substring("_key", 1, 1), ["_key", "_id"], out="_r"
        ).select("_id", "_r", "_t")
    )
    a = ranked.select(
        F.col("_id").alias("_ida"), F.col("_r").alias("_ra"),
        F.col("_t").alias("_ta"),
    ).crossJoin(F.broadcast(d))
    b = ranked.select(
        F.col("_id").alias("_idb"), F.col("_r").alias("_rb"),
        F.col("_t").alias("_tb"),
    )
    lev = F.levenshtein("_ta", "_tb", int(max_dist))
    mx = F.greatest(F.length("_ta"), F.length("_tb"))
    sim = F.when(
        mx > 0, F.round(F.lit(1.0) - F.col("lev") / mx.cast("double"), 6)
    ).otherwise(F.lit(1.0))
    return (
        a.join(
            b,
            (F.col("_ra") + F.col("_d") == F.col("_rb"))
            & (
                F.abs(F.length("_ta") - F.length("_tb"))
                <= F.lit(int(max_dist))
            ),
        )
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            lev.cast("bigint").alias("lev"),
            "_ta",
            "_tb",
        )
        .filter((F.col("lev") >= 0) & (F.col("lev") <= int(max_dist)))
        .select("id_a", "id_b", "lev", sim.alias("sim"))
        .orderBy("id_a", "id_b")
    )


def duck_edit_verified_sql(
    tbl: str,
    id_col: str,
    text_col: str,
    window: int = 3,
    key_len: int = 20,
    max_dist: int = 40,
) -> str:
    """DuckDB mirror of :func:`edit_verified_pairs` — same sort key and
    total order, same length prefilter, plain ``levenshtein`` + filter
    (DuckDB has no threshold arg; rows kept are identical because any
    pair the banded Spark computation abandons is > max_dist and
    filtered on both arms)."""
    return f"""
    WITH r AS (
      SELECT {id_col} AS _id, {text_col} AS _t,
             row_number() OVER (
               ORDER BY substr(trim(regexp_replace(lower({text_col}),
                                     '[^a-z0-9]+', ' ', 'g')),
                        1, {int(key_len)}),
                        {id_col}
             ) AS _r
      FROM {tbl}
    ),
    cand AS (
      SELECT a._id AS ia, a._t AS ta, b._id AS ib, b._t AS tb
      FROM r a JOIN r b
      ON b._r - a._r BETWEEN 1 AND {int(window)}
         AND abs(length(a._t) - length(b._t)) <= {int(max_dist)}
    ),
    v AS (
      SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
             CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
             greatest(length(ta), length(tb)) AS mx
      FROM cand
    )
    SELECT id_a, id_b, lev,
           CASE WHEN mx > 0
                THEN round(1.0 - CAST(lev AS DOUBLE) / CAST(mx AS DOUBLE), 6)
                ELSE 1.0 END AS sim
    FROM v WHERE lev <= {int(max_dist)}
    ORDER BY id_a, id_b
    """


def dup_span_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Cross-document duplicated-SPAN profile (the ExactSubstr
    diagnostic of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", at token granularity): mark every token
    ``k``-gram that occurs in ≥ 2 DISTINCT documents, then merge
    overlapping/adjacent marked windows per document into MAXIMAL
    duplicated spans (interval union via gaps-and-islands), and report
    each document's duplicated-region footprint.

    This is x36's complement: passage_dedup REWRITES docs by keeping
    each fixed disjoint chunk's first occurrence; this PROFILES the
    exact extent of shared text at arbitrary alignment — the number a
    curation pipeline thresholds on ("drop docs > 60% duplicated",
    RefinedWeb's dup-n-gram rule) before deciding to rewrite at all.
    Within-document repetition is deliberately out of scope (that is
    x22's signal): a gram must appear in two distinct docs to count.

    Output: (id_col, n_tokens, n_dup_spans, dup_tokens, dup_frac
    DOUBLE round-6), one row per input document — docs with no
    duplicated span report zeros.

    100 TB shape: the gram frame is O(total tokens) rows of 16-byte
    digests — the honest ExactSubstr cost — with exactly two exchanges
    on the digest (the distinct-doc count, map-side combined, and the
    semi-join back); island merging is a per-document window (parallel
    across docs, never a global sort); everything else is doc-keyed."""
    if k < 1:
        raise ValueError("k must be >= 1")
    ws = F.split(F.col(text_col), " ")
    # NB: Spark's sequence(1, stop) turns DESCENDING when stop < 1 (a
    # sub-k-token doc would fabricate windows), so the sequence is
    # floored at 1 and the trailing filter drops the phantom start —
    # only full k-token windows survive, matching the DuckDB
    # generate_series (empty when stop < start) exactly.
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.expr(
                f"filter(transform(sequence(1, greatest("
                f"size(split({text_col}, ' ')) - {int(k)} + 1, 1)), "
                f"i -> struct(i AS pos, md5(concat_ws(' ', "
                f"slice(split({text_col}, ' '), i, {int(k)}))) AS g)), "
                f"s -> s.pos <= size(split({text_col}, ' ')) - {int(k)} + 1)"
            )
        ).alias("_pg"),
    ).select("_id", F.col("_pg.pos").alias("pos"), F.col("_pg.g").alias("g"))
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("g")
    )
    dp = grams.join(dup, "g", "left_semi")
    w = Window.partitionBy("_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(int(k) - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        prev_end.isNull() | (F.col("pos") > prev_end + 1)
    ).cast("int")
    isl = dp.select(
        "_id",
        "pos",
        F.sum(new_island)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    spans = isl.groupBy("_id", "island").agg(
        F.min("pos").alias("_s"),
        (F.max("pos") + F.lit(int(k) - 1)).alias("_e"),
    )
    agg = spans.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("_e") - F.col("_s") + 1).alias("dup_tokens"),
    )
    return (
        df.select(
            F.col(id_col).alias("_id"), F.size(ws).cast("bigint").alias("n_tokens")
        )
        .join(agg, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias(
                "n_dup_spans"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias(
                "dup_tokens"
            ),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_frac"),
        )
        .orderBy(id_col)
    )


def duck_dup_span_sql(
    tbl: str, id_col: str, text_col: str, k: int = 8
) -> str:
    """DuckDB mirror of :func:`dup_span_profile` — same 1-based window
    starts, same md5-of-joined-slice digest, same ≥2-distinct-docs dup
    rule, same gaps-and-islands interval union."""
    return f"""
    WITH d AS (
      SELECT {id_col} AS _id, string_split({text_col}, ' ') AS ws
      FROM {tbl}
    ),
    gr AS (
      SELECT _id, pos,
             md5(array_to_string(ws[pos:pos + {int(k)} - 1], ' ')) AS g
      FROM (SELECT _id, ws,
                   unnest(generate_series(1, len(ws) - {int(k)} + 1)) AS pos
            FROM d)
    ),
    dup AS (SELECT g FROM gr GROUP BY g
            HAVING count(DISTINCT _id) >= 2),
    dp AS (SELECT gr._id, gr.pos FROM gr JOIN dup USING (g)),
    pe AS (
      SELECT _id, pos,
             max(pos + {int(k)} - 1) OVER (
               PARTITION BY _id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end
      FROM dp
    ),
    isl AS (
      SELECT _id, pos,
             sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY _id ORDER BY pos
               ROWS UNBOUNDED PRECEDING
             ) AS island
      FROM pe
    ),
    spans AS (
      SELECT _id, island, min(pos) AS _s,
             max(pos) + {int(k)} - 1 AS _e
      FROM isl GROUP BY _id, island
    ),
    agg AS (
      SELECT _id, count(*) AS n_dup_spans,
             sum(_e - _s + 1) AS dup_tokens
      FROM spans GROUP BY _id
    )
    SELECT d._id AS {id_col},
           CAST(len(d.ws) AS BIGINT) AS n_tokens,
           CAST(coalesce(agg.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           round(CAST(coalesce(agg.dup_tokens, 0) AS DOUBLE)
                 / CAST(len(d.ws) AS DOUBLE), 6) AS dup_frac
    FROM d LEFT JOIN agg USING (_id)
    ORDER BY {id_col}
    """
