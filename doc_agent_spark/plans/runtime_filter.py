"""Semi-join reduction via a broadcast Bloom filter — the runtime-filter /
sideways-information-passing pattern.

Spark's own ``InjectRuntimeFilter`` rule does this opportunistically for
shuffle joins when creation-side statistics allow; this is the explicit,
engine-portable form. Two probe schemes share the packed word-table layout
(``(word int, mask long)``, 32 bits/word, mergeable by ``bit_or``):

- ``xxh`` (default): Kirsch–Mitzenmacher double hashing — two JVM
  ``xxhash64`` calls per row derive all n_hashes positions
  (pos_j = h1 + j·h2 mod m). Probe cost is two long hashes + integer
  algebra per fact row; measured 5.5× faster than the md5 scheme on a
  6M-row probe (1.0 s vs 5.6 s at sf0.1). KM preserves the classic FP
  rate (Kirsch & Mitzenmacher 2006). Used whenever the filter is built
  and probed inside the same composition, where no cross-engine
  reproducibility is needed — false positives are cleared by the exact
  join, so the ORACLE for these compositions is the plain semi/anti SQL.
- ``md5``: byte-compatible with ``operators/sketches.bloom_build`` — use
  it to probe a PERSISTED filter (e.g. the incremental-crawl history
  snapshot) whose positions the DuckDB oracle must reproduce bit-for-bit.

100 TB shape: a 10^12-row fact side semi-joined against a selective key
set normally shuffles the FULL fact side on the join key before a single
row is dropped. Here the key set is compressed to the packed word table
(m_bits/32 rows ≈ 12 B each — broadcastable at any corpus size) and the
fact side is pruned SCAN-SIDE: each row tests its probe bits via n_hashes
broadcast hash joins (narrow — no shuffle, no row explosion). Only
survivors — true matches plus the deterministic FP fraction — pay the
exact join. No false negatives ⇒ prune ∘ exact-semi ≡ plain left-semi and
keep ∘ exact-anti ≡ plain left-anti, row-for-row; the ``semi_anti_join``
gate arms check exactly those equalities.

Reference parity: the reference has no distributed join machinery at all
(single-process SQLite lookups, packages/core/src/services/database.ts);
this is part of the scale-out surface the Spark engine adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from doc_agent_spark.operators import sketches


def _bit_position(key: Column, j: int, m_bits: int, seed: str,
                  scheme: str) -> Column:
    """Probe-bit position for hash j under the given scheme."""
    if scheme == "md5":
        return sketches.bloom_bit(key, j, m_bits, seed)
    if scheme != "xxh":
        raise ValueError(f"unknown bloom scheme {scheme!r}")
    # Kirsch–Mitzenmacher: pos_j = h1 + j*h2 (mod m). Both addends are
    # pre-reduced mod m so the sum stays < (j+1)*m — no long overflow
    # under ANSI arithmetic. A key whose h2 ≡ 0 (mod m) degenerates to
    # one shared position — still a valid filter, marginally higher FP.
    h1 = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(key, F.lit(seed + "#2")), F.lit(m_bits))
    return F.pmod(h1 + F.lit(j) * h2, F.lit(m_bits))


def bloom_build_fast(keys: DataFrame, key_col: str, m_bits: int = 16384,
                     n_hashes: int = 3, seed: str = "rtf") -> DataFrame:
    """Packed word table from the xxh scheme — same ``(word, mask)`` layout
    and bit_or mergeability as ``sketches.bloom_build``, but positions come
    from two xxhash64 calls per key instead of n_hashes md5s. Build cost is
    key-set-sized; the scheme choice matters on the PROBE side."""
    bits = keys.select(key_col).withColumn(
        "bit",
        F.explode(F.array(*[
            _bit_position(F.col(key_col), j, m_bits, seed, "xxh")
            for j in range(n_hashes)
        ])),
    )
    return bits.groupBy(F.expr("cast(bit div 32 as int)").alias("word")).agg(
        F.expr("bit_or(shiftleft(cast(1 as bigint), cast(bit % 32 as int)))").alias("mask")
    )


def bloom_flag(big: DataFrame, words: DataFrame, key_col: str,
               flag_col: str = "_rtf_maybe",
               m_bits: int = 16384, n_hashes: int = 3,
               seed: str = "rtf", scheme: str = "xxh") -> DataFrame:
    """Append a boolean ``flag_col``: true iff ``key_col`` MAY be in the
    filter (non-null and all n_hashes probe bits set). Row-preserving
    (each probe left-joins the unique-keyed word table); zero exchanges —
    n_hashes BroadcastHashJoins. ``scheme``/``seed``/``m_bits`` must match
    how ``words`` was built (``xxh`` → bloom_build_fast, ``md5`` →
    sketches.bloom_build with seed "bloom"). The semi/anti reductions
    below split on this flag; callers with custom routing (e.g.
    quarantine-the-maybes) can use it directly."""
    flagged = big
    conds = [F.col(key_col).isNotNull()]
    for j in range(n_hashes):
        wj = F.broadcast(
            words.select(F.col("word").alias(f"_rtf_w{j}"),
                         F.col("mask").alias(f"_rtf_m{j}"))
        )
        bit = _bit_position(F.col(key_col), j, m_bits, seed, scheme)
        flagged = (
            flagged.withColumn(f"_rtf_b{j}", bit)
            .withColumn(f"_rtf_w{j}", F.expr(f"cast(_rtf_b{j} div 32 as int)"))
            .join(wj, f"_rtf_w{j}", "left")
        )
        conds.append(
            F.col(f"_rtf_m{j}").isNotNull()
            & (
                F.col(f"_rtf_m{j}").bitwiseAND(
                    F.expr(f"shiftleft(cast(1 as bigint), cast(_rtf_b{j} % 32 as int))")
                )
                != 0
            )
        )
    out = flagged
    acc = conds[0]
    for c in conds[1:]:
        acc = acc & c
    out = out.withColumn(flag_col, acc)
    for j in range(n_hashes):
        out = out.drop(f"_rtf_b{j}", f"_rtf_w{j}", f"_rtf_m{j}")
    return out


def bloom_prune(big: DataFrame, words: DataFrame, key_col: str,
                m_bits: int = 16384, n_hashes: int = 3,
                seed: str = "rtf", scheme: str = "xxh") -> DataFrame:
    """Scan-side Bloom prune: keep only rows of ``big`` whose ``key_col``
    MAY be in the filter (all probe bits set). Row-preserving for
    survivors, schema unchanged; null keys are dropped (they cannot match
    an equi-join anyway). Zero exchanges."""
    return (
        bloom_flag(big, words, key_col, m_bits=m_bits,
                   n_hashes=n_hashes, seed=seed, scheme=scheme)
        .filter(F.col("_rtf_maybe"))
        .drop("_rtf_maybe")
    )


def bloom_semi_join(big: DataFrame, keys: DataFrame, key_col: str,
                    m_bits: int = 16384, n_hashes: int = 3,
                    seed: str = "rtf") -> DataFrame:
    """``big LEFT SEMI JOIN keys ON big[key_col] = keys[key_col]`` with the
    fact side Bloom-pruned before the exact join.

    ``keys`` needs only the ``key_col`` column (extra columns are ignored);
    the filter is built from its values, the pruned fact side then runs
    the exact left-semi join so false positives never surface. Result is
    row-identical to the plain semi join (gate-proved)."""
    words = bloom_build_fast(keys, key_col, m_bits=m_bits,
                             n_hashes=n_hashes, seed=seed)
    pruned = bloom_prune(big, words, key_col, m_bits=m_bits,
                         n_hashes=n_hashes, seed=seed)
    return pruned.join(keys.select(key_col), key_col, "left_semi")


def bloom_anti_join(big: DataFrame, keys: DataFrame, key_col: str,
                    m_bits: int = 1 << 22, n_hashes: int = 3,
                    seed: str = "rtf") -> DataFrame:
    """``big LEFT ANTI JOIN keys`` with the exact anti join paid only by
    the Bloom-MAYBE slice — the drop-list application shape.

    Applying a near-dup/contamination drop list to a 10^12-row corpus is
    an anti join where the right side can be 30–50 % of the corpus —
    far past broadcast size, so the naive plan shuffles ALL corpus rows.
    Bloom misses are DEFINITE non-members (no false negatives): those
    rows — the kept majority in the sparse-droplist regime, and every
    null-key row — bypass the join entirely with zero shuffle; only the
    maybe slice (true drops + the FP fraction) runs the exact left-anti
    join that clears the false positives back into the output. Column
    order and row multiplicity match the plain anti join exactly.

    The m_bits default is sized for drop-list use (2^22 bits = 512 KiB
    broadcast, ~1 % FP at 10^6 dropped keys); size m_bits ≈ 10·|keys|
    for ~2 % FP, or merge per-partition filters for incremental lists."""
    words = bloom_build_fast(keys, key_col, m_bits=m_bits,
                             n_hashes=n_hashes, seed=seed)
    flagged = bloom_flag(big, words, key_col, m_bits=m_bits,
                         n_hashes=n_hashes, seed=seed)
    definite_keep = flagged.filter(~F.col("_rtf_maybe")).drop("_rtf_maybe")
    maybe = flagged.filter(F.col("_rtf_maybe")).drop("_rtf_maybe")
    cleared = maybe.join(keys.select(key_col), key_col, "left_anti")
    # a USING left_anti puts the key column first: align the keep slice
    # to it, so both paths have the plain anti join's column order
    return definite_keep.select(*cleared.columns).unionByName(cleared)


def drop_list_anti_join(big: DataFrame, keys: DataFrame, key_col: str,
                        n_keys: int, bloom_min: int) -> DataFrame:
    """``big LEFT ANTI JOIN keys`` on ``key_col``, switching to
    ``bloom_anti_join`` once the key list (``n_keys`` rows, an exact count
    the caller already has) is big enough that the exact join's shuffle
    dominates.

    Below ``bloom_min`` keys the list is comfortably AQE-broadcastable and
    the plain left-anti is optimal (no broadcast hint: a drop list scales
    with near-dup mass, not with a model size — AQE picks the join). Above
    it — near-dup drop lists are 30-50 % of a web crawl — the Bloom split
    lets every definite-keep row bypass the join with zero shuffle; the
    filter is sized to ~10 bits/key (~2 % FP), a power of two in
    [2^14, 2^30] bits (2^30 is a ~130 MB packed word table). Past the cap
    the bits/key ratio degrades; below 4 bits/key nearly every row would
    be flagged maybe, so the plain join runs instead of probes that prune
    nothing. Every path is row-identical (no false negatives)."""
    if n_keys >= bloom_min:
        m_bits = min(1 << 30, max(1 << 14, 1 << (10 * n_keys).bit_length()))
        if m_bits >= 4 * n_keys:
            return bloom_anti_join(big, keys, key_col, m_bits=m_bits)
    return big.join(keys, key_col, "left_anti")
