"""Packed small-code broadcast maps — the bitmap flag-join generalized
from 1-bit flags to n-bit VALUES.

When an equi-join consumes only a SMALL-DOMAIN value per build-side key
(a year, a nation index, a category code — anything that fits a few
bits), the build side need not be a (key, value) hash table at all: pack
``2**k`` keys per 64-bit word, keyed by ``key >> k``, with the value's
code stored in the key's slot. Code 0 is reserved for "no such key", so
the probe-side slot test reproduces exact inner-join semantics (absent
key == failed join) the same way the existence bitmap does in
``mart_promo_revenue_share``.

Why it matters at scale: a 15M-row orders dim consumed only for
``year(o_orderdate)`` collapses from a ~1 GB hash relation to a ~15 MB
word map — under the AQE broadcast threshold, so the fact side of an
orderkey join NEVER SHUFFLES. Past any broadcast ceiling (15B orders ≈
15 GB of words) AQE degrades the word join to a shuffle on ``2**k``×
fewer build rows — the mechanism never does worse than the plain join.

Safety is enforced, not assumed (the r7/r8 guard discipline):

* the hot path is bit-ops only (``shiftleft`` / ``&`` / ``>>``) so a
  domain violation can never ANSI-throw mid-stage and race the guard
  (the ``mart_part_affinity`` overflow-race lesson);
* violations are caught by a DIM-SIDE 1-row guard — duplicate keys
  (two codes OR'd into one slot) via Σ bit_count(occupancy) == COUNT(*),
  and out-of-range codes (which would bleed into neighbor slots) via
  min/max of the raw code — attached to the query's final small frame
  as a broadcast, never riding the fact-cardinality hot path (the
  ``mart_large_volume_customers`` guard-placement A/B).

The 1-bit case without a probe, ``distinct_presence``, is the engine's
exact distinct count for integral keys.

Reference parity: the reference's own mart joins are generic BigQuery
SQL (``/root/reference/airflow/dags/pager-workflow.py:120-126``); this
module is a Spark-side physical strategy for the same logical joins.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from ..catalog import footer
from ..session import byte_size


@dataclass(frozen=True)
class PackedCodeMap:
    """A built packed-code map plus everything a consumer needs.

    ``words``: one row per ``key >> shift`` word — join this to the probe
    on ``probe_word(probe_key) == F.col(word_col)`` and recover the code
    with ``probe_code(probe_key)`` (0 ⇒ key absent ⇒ drop the row for
    inner-join semantics). The domain guard is INLINE in ``words`` (a
    raising per-word filter — see ``packed_code_map``), so consuming the
    map at all is enough to surface violations.
    """

    words: DataFrame
    word_col: str
    slot_bits: int
    key_mask: int
    shift: int

    def probe_word(self, key: Column) -> Column:
        return F.shiftright(key, self.shift)

    def probe_code(self, key: Column) -> Column:
        """The packed code for ``key`` (0 when the key is absent).

        ``key & mask`` is a two's-complement identity — exact for negative
        keys and it matches the build side's slot placement."""
        slot = key.bitwiseAND(F.lit(self.key_mask)).cast("int")
        # F.shiftright only takes a literal int shift; the SQL function
        # accepts a column — call it directly for the per-row slot shift.
        return F.call_function(
            "shiftright", F.col("packed_codes"), slot * F.lit(self.slot_bits)
        ).bitwiseAND(F.lit((1 << self.slot_bits) - 1))


def packed_code_map(
    df: DataFrame,
    key: str,
    code: Column,
    *,
    slot_bits: int = 8,
    guard_message: str,
) -> PackedCodeMap:
    """Build a packed-code map from ``df``: one word per ``key >> shift``,
    ``64 // slot_bits`` keys per word, ``code`` (must evaluate to
    ``1 .. 2**slot_bits - 1``; 0 is the reserved absent marker) stored in
    the key's slot.

    The returned ``words`` raise ``guard_message`` when keys are duplicated
    or codes fall outside the slot domain — both of which would corrupt
    slots silently (bit ops never throw, by design)."""
    if slot_bits not in (1, 2, 4, 8, 16, 32):
        raise ValueError("slot_bits must be one of 1, 2, 4, 8, 16, 32")
    per_word = 64 // slot_bits  # a power of two for every legal slot_bits
    shift = per_word.bit_length() - 1
    key_mask = per_word - 1
    kc = F.col(key)
    packed = F.expr(
        f"shiftleft(CAST(_code AS BIGINT), CAST(({key} & {key_mask})"
        f" * {slot_bits} AS INT))"
    )
    occ = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({key} & {key_mask} AS INT))")
    words = (
        df.withColumn("_code", code.cast("long"))
        .groupBy(F.shiftright(kc, shift).alias("w"))
        .agg(
            F.bit_or(packed).alias("packed_codes"),
            F.bit_or(occ).alias("_occ"),
            F.count(F.lit(1)).alias("_cnt"),
            F.count(F.col("_code")).alias("_ccnt"),
            F.min("_code").alias("_cmn"),
            F.max("_code").alias("_cmx"),
        )
    )
    # The guard is PER-WORD, inline in the words frame: each word row
    # carries its own occupancy/count/min/max, so a raising filter over
    # the word frame detects duplicates and out-of-domain codes without a
    # separate 1-row guard subtree. Why this shape (A/B'd at sf10 on
    # mart_brand_market_share): a detached guard aggregate is a SECOND
    # consumer of the word subtree, and Catalyst's pruning cascade gives
    # it its own full build-side scan+aggregate (~1 s on a 15M-row dim) —
    # which cancelled the packed join's entire win. Inline, the check
    # rides the word rows the broadcast is built from anyway, which ALSO
    # guarantees evaluation when a violation drops every probe row (AQE's
    # empty-relation propagation would eliminate a result-side guard
    # join before its stage materializes — silently-empty output instead
    # of the loud raise). The raise_error filter is CodegenFallback, but
    # over 2**k-times-fewer dim rows, never the fact (the r6 lesson).
    # _ccnt == _cnt closes the NULL-code hole: bit_or/min/max all IGNORE
    # NULLs, so a NULL code row would set its occupancy bit yet leave the
    # slot at 0 — the probe would silently drop the key instead of the
    # plain join's NULL-group behavior. count(_code) skips NULLs, so any
    # NULL code trips the guard loudly (the map cannot represent NULL).
    word_ok = (
        (F.bit_count(F.col("_occ")).cast("long") == F.col("_cnt"))
        & (F.col("_ccnt") == F.col("_cnt"))
        & (F.col("_cmn") >= 1)
        & (F.col("_cmx") <= (1 << slot_bits) - 1)
    )
    guarded_words = words.filter(
        F.when(word_ok, F.lit(True)).otherwise(
            F.raise_error(F.lit(guard_message)).cast("boolean")
        )
    ).select("w", "packed_codes")
    return PackedCodeMap(
        words=guarded_words,
        word_col="w",
        slot_bits=slot_bits,
        key_mask=key_mask,
        shift=shift,
    )


_INTEGRAL_TYPES = (LongType, IntegerType, ShortType, ByteType)


def is_integral(df: DataFrame, col: str) -> bool:
    """True when ``col`` is a byte/short/int/long column of ``df``."""
    return isinstance(df.schema[col].dataType, _INTEGRAL_TYPES)


def distinct_presence(df: DataFrame, col: str) -> DataFrame:
    """One row ``(rows, non_null, distinct)`` for an integral key column:
    ``COUNT(*)``, ``COUNT(col)`` and ``COUNT(DISTINCT col)``.

    Plan: a 64-bit PRESENCE BITMAP per ``key >> 6`` word —
    ``bit_or(1L << (key & 63))`` — so the shuffle carries one row per 64
    keys instead of one per key, and ``distinct = Σ bit_count(bits)``.
    Exactness: always exact for every byte/short/int/long domain, with no
    guard. ``bit_or`` is idempotent, so a key repeated any number of times
    sets its bit once (nothing to carry); ``word * 64 + (key & 63)`` is a
    two's-complement identity, so negative keys and ``Long.MIN/MAX`` land
    in distinct bits; the hot path is bit ops and counts, so nothing can
    ANSI-overflow. NULL keys fall into the NULL word, whose ``bit_or`` is
    NULL: they count in ``rows`` only. Empty input answers ``(0, 0, 0)``.

    Distinct counts only: per-key COUNTS need the packed 7-bit counter of
    ``dq_key_skew``, whose slots can carry."""
    if not is_integral(df, col):
        raise TypeError(
            f"distinct_presence needs an integral key; {col} is "
            f"{df.schema[col].dataType.simpleString()}"
        )
    key = F.col(col).cast("long")
    # F.shiftleft only takes a literal bit count: call the SQL function
    # with a Column one
    bit = F.call_function(
        "shiftleft", F.lit(1).cast("long"), key.bitwiseAND(F.lit(63)).cast("int")
    )
    words = df.groupBy(F.shiftright(key, 6).alias("__w")).agg(
        F.bit_or(bit).alias("__bits"),
        F.count(key).alias("__nn"),
        F.count(F.lit(1)).alias("__all"),
    )
    return words.agg(
        F.coalesce(F.sum("__all"), F.lit(0)).alias("rows"),
        F.coalesce(F.sum("__nn"), F.lit(0)).alias("non_null"),
        F.coalesce(
            F.sum(F.bit_count(F.col("__bits")).cast("long")), F.lit(0)
        ).alias("distinct"),
    )


def packed_map_worthwhile(
    sf_dir: str,
    probe_table: str,
    min_probe_rows: int = 20_000_000,
) -> bool:
    """The LOWER bound of the packed-map deployment gate: the rewrite
    trades a few fixed build jobs (word aggregate + guard per map) for
    removing the probe-side fact shuffle, and below tens of millions of
    probe rows the shuffle costs ~nothing while the builds are pure
    overhead. Measured (alternating medians of 5, PERF.md r9): plain
    wins at sf0.1 (Q3 1.01 vs 1.36 s, Q5 0.94 vs 1.56, Q17 0.68 vs
    1.22) AND at sf1 (0.94 vs 1.82 / 1.05 vs 1.85 / 1.15 vs 1.45);
    packed wins at sf10 (r8 medians: Q3 3.16→2.80, Q5 3.71→3.17, Q17
    3.13→2.47) — so the local-mode crossover sits between 6M and 60M
    probe rows and the default splits it at 20M. Gate on the PROBE
    table's footer row count — metadata only, no scan. Estimation
    failure returns True: the packed path is the value-identical,
    scale-safe default, and only small-SF pennies ride on the gate
    being right."""
    try:
        return footer(sf_dir, probe_table).rows >= min_probe_rows
    except Exception:
        return True


def words_fit_broadcast(
    spark,
    sf_dir: str,
    table_name: str,
    slot_bits: int = 8,
    bytes_per_word: int = 16,
    selectivity: float = 1.0,
    dense_keys: bool = False,
) -> bool:
    """Size arithmetic for hinting the word-map broadcast (the Q16 /
    affinity-shuffle-hash precedent: hint only with the arithmetic that
    makes it sound, gated so scale turns it OFF). Why a hint at all:
    Catalyst's STATIC estimate of a filter→join→groupBy chain is far
    above the real word count, so the initial plan picks SMJ and the
    fact-side shuffle is already running before AQE's runtime sizes can
    convert the join (measured: Q5's 60M-row probe shuffled, 4.5 → 9.2 s
    REGRESSION without the hint). Estimate: footer row count (metadata
    only, no scan) × filter selectivity, bounded by keyspace/per_word
    for dense keys, × ~16 B per SERIALIZED word row (what AQE's own
    conversion compares), vs the session's adaptive broadcast threshold.
    Estimation
    failures return False (no hint — the status quo plan), and past the
    threshold the gate turns the hint off so a 100 TB build degrades to
    AQE's choice instead of OOMing the driver."""
    try:
        n_rows = footer(sf_dir, table_name).rows
        # ``selectivity`` is the caller's arithmetic for build-side filters
        # the footer can't see (e.g. a date range keeping ~1/7 of orders);
        # a wrong value only flips the hint, never correctness. Two sound
        # upper bounds on word count: filtered keys (1 word/key worst
        # case, tight for sparse keys) and keyspace/per_word when keys
        # are dense surrogate ids (filtered keys scatter, but words can't
        # exceed the keyspace's word count) — take the min with
        # ``dense_keys``.
        sel = max(0.0, min(1.0, selectivity))
        words = n_rows * sel
        if dense_keys:
            words = min(words, n_rows / (64 // slot_bits))
        # The adaptive threshold FALLS BACK to the plain conf when unset
        # (Spark's own fallbackConf chain; conf.get returns None then) —
        # assuming 64MB here would pin broadcasts several times larger
        # than the session would ever choose.
        threshold = spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", None
        ) or spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        limit = byte_size(spark, threshold)
        return limit > 0 and words * bytes_per_word <= limit
    except Exception:
        return False


def join_packed_codes(
    probe: DataFrame,
    pmap: PackedCodeMap,
    probe_key: str,
    code_out: str,
    hint_broadcast: bool = False,
) -> DataFrame:
    """Inner-join ``probe`` against a packed map: join on the word, recover
    the slot code as ``code_out``, and drop rows whose key is absent
    (code 0) — value-identical to the plain equi-join it replaces. NULL
    probe keys drop at the word join exactly like the original inner
    join (NULL >> k is NULL).

    ``hint_broadcast`` (gate it with ``words_fit_broadcast``) pins the
    words side as the broadcast build — see that helper for why AQE's
    runtime conversion is too late for this shape."""
    words = pmap.words.hint("broadcast") if hint_broadcast else pmap.words
    joined = probe.join(
        words, pmap.probe_word(F.col(probe_key)) == F.col(pmap.word_col)
    )
    return (
        joined.withColumn(code_out, pmap.probe_code(F.col(probe_key)))
        .filter(F.col(code_out) != 0)
        .drop(pmap.word_col, "packed_codes")
    )
