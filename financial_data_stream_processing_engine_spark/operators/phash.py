"""DCT perceptual image hashing (pHash) over the REAL decode path —
image near-dup the way SimHash gives text near-dup (VERDICT r12
next-step #4b).

The classic pHash (Zauner 2010, "Implementation and Benchmarking of
Perceptual Image Hash Functions") maps an image to a small bit string
whose Hamming distance tracks perceptual similarity: downsample to a
tiny grayscale grid, take the 2-D DCT-II, and emit one bit per
low-frequency AC coefficient — set iff the coefficient exceeds the
median AC coefficient.  Small pixel perturbations move coefficients a
little, so only bits whose coefficient sits near the median can flip —
near-duplicate images land at small Hamming distance.

EXACTNESS CONTRACT (the repo's cross-engine hash-parity rule): nothing
in the decision path is a float.  The DCT basis is quantized ONCE into
the integer table :data:`DCT8_W` (``round(cos(pi*(2x+1)u/16) * 2^14)``
— the fixed-point form JPEG integer DCTs use); pixels are exact uint8;
every coefficient is an exact int64 (|C| <= 64*255*2^28 < 2^43); the
median of the 63 AC coefficients is the exact 32nd-smallest value; the
hash packs bit ``u*8+v-1`` of each strict ``c > median`` compare into
one BIGINT.  The DuckDB oracle replays the identical integer pipeline
from the same table (rendered as a VALUES literal from this module's
one source of truth).

Scale design: hashing is embarrassingly parallel (one Arrow
``mapInPandas`` pass, no shuffle); near-dup retrieval is BANDED — the
63-bit hash splits into 4 disjoint 16-bit bands and candidates are
generated by a band-value bucket join, never all-pairs.  Pigeonhole:
Hamming distance <= 3 can touch at most 3 of the 4 disjoint bands, so
every pair within radius 3 shares at least one exact band — the
banding has COMPLETE recall at the default radius (the all-pairs form
exists only in the oracle).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F

from financial_data_stream_processing_engine_spark.operators.multimodal import (
    _map_payloads,
    decode_image,
)

#: fixed-point scale of the quantized DCT-II basis (2^14, the JPEG
#: integer-DCT convention)
DCT_SCALE = 14

#: integer 8-point DCT-II basis: W[u][x] = round(cos(pi*(2x+1)u/16) * 2^14)
#: (round-half-up; the one source of truth for BOTH engines — the
#: DuckDB oracle renders this exact table via :func:`dct8_values_sql`)
DCT8_W: list[list[int]] = [
    [
        int(math.floor(math.cos(math.pi * (2 * x + 1) * u / 16.0) * (1 << DCT_SCALE) + 0.5))
        for x in range(8)
    ]
    for u in range(8)
]

#: banded-retrieval parameters: 4 disjoint 16-bit bands over the
#: 63-bit hash; complete recall for Hamming radius <= BANDS - 1
PHASH_BANDS = 4
PHASH_BAND_BITS = 16
PHASH_RADIUS = 3

PHASH_SCHEMA = (
    "media_id bigint, width int, height int, "
    "phash bigint, dc bigint, median_ac bigint"
)


def dct8_values_sql(alias: str = "dctw") -> str:
    """The :data:`DCT8_W` table as a DuckDB VALUES literal
    ``(u, x, w)`` — 64 rows, rendered from the Python table so the two
    engines cannot drift."""
    rows = ", ".join(
        f"({u}, {x}, {DCT8_W[u][x]})" for u in range(8) for x in range(8)
    )
    return f"(VALUES {rows}) {alias}(u, x, w)"


def phash64(df: DataFrame) -> DataFrame:
    """media frame (media_id, payload, ...) → one row per decodable
    image: ``(media_id, width, height, phash, dc, median_ac)``.

    One Arrow ``mapInPandas`` pass (``multimodal._map_payloads``): the
    REAL stdlib decoders (``multimodal.decode_image`` — PNG/JPEG/GIF/
    BMP/TIFF dispatch on magic) produce the pixel grid; multi-channel
    images use channel 0; non-8x8 grids are downsampled by exact
    strided selection
    ``px[(i*h)//8, (j*w)//8]`` (integer index math — deterministic,
    no resampling floats); then the exact integer DCT/median/pack
    described in the module docstring.  Undecodable payloads yield
    NULLs (the per-row error-isolation contract).

    ``dc`` (the DC coefficient — total brightness) and ``median_ac``
    are returned alongside the hash so the driver's value hash
    certifies the DCT itself, not just the final bit pack.
    """
    Wm = np.array(DCT8_W, dtype=np.int64)

    def hash_one(b):
        dec = decode_image(b) if b is not None else None
        if dec is None:
            return None
        px, _nch = dec
        if px.ndim == 3:
            px = px[:, :, 0]
        h, w = px.shape
        if h == 0 or w == 0:
            return None
        grid = px[(np.arange(8) * h) // 8][:, (np.arange(8) * w) // 8].astype(
            np.int64
        )
        coef = Wm @ grid @ Wm.T  # exact int64 (|C| < 2^43)
        flat = coef.ravel()
        ac = flat[1:]  # indices 1..63 = (u, v) != (0, 0), idx = u*8+v-1
        median = int(np.sort(ac, kind="stable")[31])  # 32nd smallest of 63
        bits = ac > median
        phash = int(np.sum((bits.astype(np.uint64)) << np.arange(63, dtype=np.uint64)))
        return (int(w), int(h), phash, int(flat[0]), median)

    return _map_payloads(
        df, PHASH_SCHEMA, hash_one, ("media_id",),
        {"width": "Int32", "height": "Int32", "phash": "Int64", "dc": "Int64",
         "median_ac": "Int64"},
    )


def _check_phash_radius(radius: int) -> None:
    if radius > PHASH_BANDS - 1:
        raise ValueError(
            f"banded pHash retrieval guarantees complete recall only for "
            f"radius <= {PHASH_BANDS - 1} (got {radius})"
        )


def phash_bands(
    ph: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "phash",
) -> DataFrame:
    """Explode a :func:`phash64` frame into its band-bucket relation
    ``(id, h, band, val)`` — one row per disjoint 16-bit band of each
    hash.  This is BOTH the candidate-join side of
    :func:`phash_hamming_pairs` and the persisted INDEX relation a
    streaming near-dup gate maintains per micro-batch
    (``plans/streaming_queries.py::streaming_phash_gate``): appending
    a batch's band rows is the entire index-maintenance cost."""
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(
                    f"(h >> {i * PHASH_BAND_BITS}) & "
                    f"{(1 << PHASH_BAND_BITS) - 1}"
                ).alias("val"),
            )
            for i in range(PHASH_BANDS)
        ]
    )
    return (
        ph.where(F.col(hash_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
        .select("id", "h", F.explode(bands).alias("bv"))
        .select("id", "h", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    )


def phash_probe_index(
    probe_bands: DataFrame,
    index_bands: DataFrame,
    radius: int = PHASH_RADIUS,
) -> DataFrame:
    """Near-dup matches of PROBE hashes against an INDEX of previously
    seen hashes — the cross-frame twin of :func:`phash_hamming_pairs`:
    ``(id_a, id_b, hamming)`` with ``id_a`` from the index, ``id_b``
    from the probe side, ``hamming <= radius``.  Both inputs are
    :func:`phash_bands` relations; candidates come only from the
    ``(band, val)`` bucket join (pigeonhole-complete for ``radius <=
    3``), the exact ``bit_count`` verify filters them, and the
    band-multiplicity duplicates collapse via groupBy on the pair key.
    At scale this is one keyed shuffle of the (small) probe batch
    against the bucket-partitioned index — never all-pairs."""
    _check_phash_radius(radius)
    left = index_bands.select(
        F.col("id").alias("id_a"), F.col("h").alias("h_a"), "band", "val"
    )
    right = probe_bands.select(
        F.col("id").alias("id_b"), F.col("h").alias("h_b"), "band", "val"
    )
    return (
        left.join(right, ["band", "val"])
        .groupBy("id_a", "id_b")
        .agg(F.first("h_a").alias("h_a"), F.first("h_b").alias("h_b"))
        .withColumn("hamming", F.expr("cast(bit_count(h_a ^ h_b) as int)"))
        .where(F.col("hamming") <= F.lit(radius))
        .select("id_a", "id_b", "hamming")
    )


def phash_hamming_pairs(
    ph: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "phash",
    radius: int = PHASH_RADIUS,
) -> DataFrame:
    """Banded-Hamming near-dup pairs over a :func:`phash64` frame:
    ``(id_a, id_b, hamming)`` with ``id_a < id_b`` canonical and
    ``hamming <= radius``.

    Candidates come ONLY from the band bucket join (explode each hash
    into its 4 disjoint 16-bit band values, self-join on
    ``(band, val)``) — pigeonhole-complete for ``radius <= 3``; the
    exact ``bit_count(a ^ b)`` verify then filters candidates.  The
    quadratic all-pairs form exists only in the DuckDB oracle.  Raises
    if ``radius`` exceeds what the banding can guarantee (recall would
    silently drop below 1.0 — fail loudly instead).
    """
    _check_phash_radius(radius)
    b = phash_bands(ph, id_col=id_col, hash_col=hash_col)
    left = b.select(
        F.col("id").alias("id_a"), F.col("h").alias("h_a"), "band", "val"
    )
    right = b.select(
        F.col("id").alias("id_b"), F.col("h").alias("h_b"), "band", "val"
    )
    cand = (
        left.join(right, ["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("cast(bit_count(h_a ^ h_b) as int)"))
        .where(F.col("hamming") <= F.lit(radius))
        .select("id_a", "id_b", "hamming")
    )
