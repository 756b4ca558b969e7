"""Multimodal columns (BASELINE.json north-star).

Images/audio/video are opaque ``binary`` columns + typed metadata; the
Spark-side plumbing — schema, partition-preserving batch iteration,
Arrow batch shapes — is real and tested. The actual media decoding is
stubbed behind import-tries (no PIL/cv2/librosa in this container, per
the build constraints): ``decode_image`` raises NotImplementedError
with a clear message, while the feature path uses a deterministic,
honest computation (byte histogram + entropy) so the pipeline runs end
to end today and swaps in a real decoder later without plan changes.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import spread, table
from ..registry import register
from .collapse import content_groups, dup_heavy, expand_group_pairs

N_HIST_BINS = 16

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("byte_hist", T.StringType()),
        T.StructField("entropy", T.DoubleType()),
    ]
)


def decode_image(blob: bytes):  # pragma: no cover - stub by design
    """Decode an image blob to HxWxC. STUB: the media libraries are not
    in this container; the Spark plumbing around this call is real."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "image decode requires pillow; install it on the cluster and "
            "this operator works unchanged"
        ) from exc
    raise NotImplementedError("unreachable in this container")


def byte_features(blob: bytes) -> tuple[int, list[float], float]:
    """Deterministic per-blob features: 16-bin byte histogram
    (normalized) + Shannon entropy over the bins. Python reference used
    by both the Arrow batch path and the tests."""
    n = len(blob)
    counts = [0] * N_HIST_BINS
    for byte in blob:
        counts[byte * N_HIST_BINS // 256] += 1
    hist = [c / n if n else 0.0 for c in counts]
    entropy = -sum(p * math.log2(p) for p in hist if p > 0)
    # + 0.0 normalizes IEEE -0.0 (single-bin blob) to +0.0 so the value
    # hash matches the SQL oracle's `0 - sum(...)` form
    return n, [round(h, 6) for h in hist], round(entropy, 6) + 0.0


@register(
    "mm_blob_meta",
    sql="""
        SELECT doc_id,
               CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
               md5(text) AS blob_md5,
               'text/plain' AS content_type
        FROM documents
    """,
)
def mm_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column (blob = utf-8 bytes
    of the text, the container's stand-in for image bytes): size,
    checksum, content-type tag. Pure JVM expressions over binary."""
    d = table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.length(blob).cast("int").alias("n_bytes"),
        F.md5(blob).alias("blob_md5"),
        F.lit("text/plain").alias("content_type"),
    )


@register(
    "mm_features",
    sql=f"""
        WITH b AS (
            SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
                   octet_length(CAST(text AS BLOB)) AS n
            FROM documents
        ),
        counts AS (
            -- bin index of a byte = its high nibble = the byte's FIRST
            -- hex digit (byte * 16 // 256 == byte >> 4), so the 16-bin
            -- histogram is countable directly on the hex rendering
            SELECT doc_id, n,
                   list_transform(range(0, {N_HIST_BINS}), k ->
                       len(list_filter(range(0, n), i ->
                           strpos('0123456789ABCDEF',
                                  substr(h, CAST(2 * i + 1 AS INT), 1))
                               - 1 = k))) AS cs
            FROM b
        )
        SELECT doc_id,
               CAST(n AS INTEGER) AS n_bytes,
               array_to_string(list_transform(cs, c -> printf('%.6f',
                   CASE WHEN n > 0 THEN c * 1.0 / n ELSE 0 END)), ',')
                   AS byte_hist,
               round(0 - list_sum(list_transform(cs, c ->
                   CASE WHEN c > 0
                        THEN (c * 1.0 / n) * log2(c * 1.0 / n)
                        ELSE 0 END)), 6) AS entropy
        FROM counts
    """,
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary blobs via mapInPandas: partition-
    preserving batch iterator (no shuffle), Arrow both directions,
    output schema typed. This is the exact plumbing an image/audio
    featurizer needs at 100 TB — swap byte_features for a real decoder
    and nothing else changes. Cross-checked against the Python
    reference in tests AND an exact DuckDB oracle (the byte histogram
    replays on the hex rendering of the same parquet column; entropy
    terms sum in bin order on both engines, so the doubles are
    bit-identical)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("blob")
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["blob"].map(byte_features)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": feats.map(lambda t: t[0]),
                    "byte_hist": feats.map(
                        # CSV-rendered histogram: the registered surface
                        # carries only hashable primitive columns
                        lambda t: ",".join(f"{h:.6f}" for h in t[1])
                    ),
                    "entropy": feats.map(lambda t: t[2]),
                }
            )

    return d.mapInPandas(extract, FEATURE_SCHEMA)


#: Fake-video geometry: the blob is treated as a stream of fixed-size
#: frames; we sample every STRIDE-th frame. Deterministic, so the
#: pipeline is testable end to end without a video decoder.
FRAME_BYTES = 64
FRAME_STRIDE = 4

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


@register(
    "mm_frame_sample",
    sql=f"""
        WITH b AS (
            SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
                   octet_length(CAST(text AS BLOB)) // {FRAME_BYTES}
                       AS n_frames
            FROM documents
        )
        SELECT doc_id,
               CAST(idx AS INTEGER) AS frame_idx,
               CAST({FRAME_BYTES} AS INTEGER) AS frame_bytes,
               md5(substr(h, CAST(idx * {2 * FRAME_BYTES} + 1 AS INT),
                          {2 * FRAME_BYTES})) AS frame_md5
        FROM (SELECT doc_id, h,
                     unnest(range(0, n_frames, {FRAME_STRIDE})) AS idx
              FROM b)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque video blobs via mapInPandas — the
    1->N expansion shape of video preprocessing (sample every k-th
    frame, emit one row per kept frame with typed metadata). The
    container has no video decoder, so a frame is a FRAME_BYTES slice
    of the blob (honest stand-in; swap the slicer for an
    ffmpeg/pyav keyframe reader and the schema, batching, and
    partitioning are unchanged). Output is fanout-bounded: 1/STRIDE of
    the frames, each row carrying bytes + checksum, never the decoded
    pixels — at 100 TB you ship references and small features out of
    the Python stage, not raw frames.

    The checksum is md5 over the frame's UPPERCASE-HEX rendering (not
    the raw bytes): byte-equivalent as a frame fingerprint, and it
    makes the operator exactly oracle-replayable — DuckDB's md5 hashes
    VARCHAR only, and a byte slice of a multi-byte UTF-8 blob need not
    be valid VARCHAR, but its hex rendering always is."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("blob")
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "frame_bytes": [],
                "frame_md5": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n_frames = len(blob) // FRAME_BYTES
                for idx in range(0, n_frames, FRAME_STRIDE):
                    frame = blob[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_bytes"].append(len(frame))
                    out["frame_md5"].append(
                        hashlib.md5(frame.hex().upper().encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return d.mapInPandas(sample, FRAME_SCHEMA)


ARROW_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("sha256", T.StringType()),
    ]
)


@register(
    "mm_arrow_batch",
    sql="""
        SELECT doc_id,
               CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
               sha256(text) AS sha256
        FROM documents
    """,
)
def mm_arrow_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob metadata via mapInArrow — the zero-pandas Arrow-native
    batch path: RecordBatches cross the Python boundary and are
    processed column-at-a-time (pyarrow.compute for the lengths,
    hashlib over the raw buffers), skipping pandas Series
    materialization entirely. For binary-heavy multimodal columns this
    halves peak Python memory vs mapInPandas (no object-dtype boxing
    of blobs) — the right boundary for a decoder that already speaks
    buffers. Partition-preserving, no shuffle; cross-checked against a
    Python reference in tests AND an exact DuckDB oracle (sha256 of
    the utf-8 bytes replays as DuckDB's sha256 over the same VARCHAR
    column)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("blob")
    )

    def meta(batches):
        import hashlib

        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            doc_id = batch.column("doc_id")
            blobs = batch.column("blob")
            yield pa.RecordBatch.from_arrays(
                [
                    doc_id,
                    pc.cast(pc.binary_length(blobs), pa.int32()),
                    pa.array(
                        [
                            hashlib.sha256(b.as_py()).hexdigest()
                            for b in blobs
                        ],
                        type=pa.string(),
                    ),
                ],
                names=["doc_id", "n_bytes", "sha256"],
            )

    return d.mapInArrow(meta, ARROW_META_SCHEMA)


#: Byte-level blockhash geometry: 32 positions sampled evenly across
#: the blob, bit = sampled byte above the SAMPLE mean (only the 32 sampled
#: bytes are parsed — O(bits) per blob, not O(bytes)); 4 x 8-bit
#: bands block the pair space; Hamming <= HAM_MAX verifies.  Same
#: band-cap-verify discipline as the MinHash/SimHash family.
MM_PHASH_BITS = 32
MM_PHASH_BANDS = 4
MM_PHASH_HAM_MAX = 2
MM_PHASH_BUCKET_CAP = 64

_PHASH_CTES = f"""
        blobs AS (
            SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
                   CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
            FROM documents WHERE text <> ''
        ),
        parsed AS (
            SELECT doc_id,
                   list_transform(range(0, {MM_PHASH_BITS}),
                       j -> CAST('0x' || substr(h,
                                CAST(2 * least(n, CAST(floor((j + 0.5) * n
                                         / {MM_PHASH_BITS}.0) AS BIGINT) + 1)
                                     - 1 AS INT), 2) AS BIGINT)) AS ss
            FROM blobs
        ),
        hashed AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(0, {MM_PHASH_BITS}),
                       j -> CASE WHEN ss[CAST(j + 1 AS INT)]
                                      > list_sum(ss) * 1.0 / {MM_PHASH_BITS}
                                 THEN CAST(1 AS BIGINT) << j ELSE 0 END))
                        AS BIGINT) AS ph
            FROM parsed
        ),
        bands AS (
            SELECT doc_id, ph, b.j AS band_idx,
                   (ph >> (8 * b.j)) & 255 AS band_val
            FROM hashed, (SELECT unnest(range(0, {MM_PHASH_BANDS})) AS j) b
        ),
        kept AS (
            SELECT band_idx, band_val FROM bands
            GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {MM_PHASH_BUCKET_CAP}
        ),
        eligible AS (
            SELECT b.* FROM bands b JOIN kept USING (band_idx, band_val)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, a.ph AS ph_a,
                            b.doc_id AS doc_b, b.ph AS ph_b
            FROM eligible a
            JOIN eligible b ON a.band_idx = b.band_idx
                           AND a.band_val = b.band_val
                           AND a.doc_id < b.doc_id
        )"""


@register(
    "mm_phash_neardup",
    sql=f"""
        WITH{_PHASH_CTES}
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(ph_a, ph_b)) <= {MM_PHASH_HAM_MAX}
    """,
    eager=True,
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash-shaped near-dup over the opaque BINARY column:
    a 32-bit blockhash (byte sampled at 32 even offsets, bit = above
    the blob's mean byte), banded 4 x 8 bits, candidates share a band
    under MM_PHASH_BUCKET_CAP, verified by Hamming distance <= 2 —
    pHash/blockhash's exact pipeline shape, computed on RAW BYTES
    because media decode is stubbed in this container (decode_image);
    swap the hash input for decoded luma blocks on a real cluster and
    nothing else changes.  Unlike `dedup_simhash` (token-level, text
    only) this is modality-agnostic: it sees only bytes.

    All JVM/SQL expressions (hex parse -> int array -> bit pack), the
    same linear band-cap-verify contract as MinHash: candidate pairs
    are bounded by CAP x band rows, never all-pairs.  Fully
    SQL-expressible => exact oracle.

    EXACT-DUPLICATE PRE-COLLAPSE (operators/collapse.py): byte-identical
    blobs hash to identical ph and identical band values, so on a
    duplicate-heavy corpus (``dup_heavy``) hashing, banding and Hamming
    verification run on one representative per distinct blob, buckets
    keep or drop on the copy count sum(m), and ``expand_group_pairs``
    rebuilds the copy pairs (co-copies at Hamming 0). The x25 stress
    showed this key at 5.2x wall for 25x data before the collapse.
    Dup-free corpora (the sf fixtures) skip the bookkeeping entirely —
    one cheap count pair, then the direct chain; the duplicated regime
    is pinned by a planted copy-level-reference test.

    spread(): the per-blob hash projection (hex parse + 32 convs +
    sha2) is the CPU hot spot and a small fixture file scans as ONE
    split — re-split so the projection uses every core (no-op at real
    scale where the input has thousands of row groups)."""
    raw = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    d = spread(raw)

    def with_ph(rel: DataFrame, keep: list[str]) -> DataFrame:
        """Append the 32-bit blockhash `ph` computed from `text`.

        Both loops are HIGHER-ORDER functions over sequence(0, 31) —
        one conv/one when in the generated code, looped at runtime —
        not 32 inlined copies: the unrolled form compiled a
        multi-thousand-node janino class PER PLAN SHAPE, measured as
        ~4 s of first-run JIT for every plan that referenced ph."""
        blob = F.encode(F.col("text"), "utf-8")
        hexs = F.hex(blob)
        n = F.length(blob).cast("long")
        # parse ONLY the 32 sampled bytes (not the whole blob) and hash
        # against the SAMPLE mean: O(bits) per doc instead of O(bytes),
        # measured ~5x cheaper at sf0.1 with identical pipeline shape
        pos = lambda j: F.least(  # noqa: E731
            n,
            F.floor((j + F.lit(0.5)) * n / MM_PHASH_BITS).cast("long") + 1,
        )
        ss = F.transform(
            F.sequence(F.lit(0), F.lit(MM_PHASH_BITS - 1)),
            lambda j: F.conv(
                hexs.substr((2 * pos(j) - 1).cast("int"), F.lit(2)), 16, 10
            ).cast("long"),
        )
        # staged projections so each building block is computed ONCE
        # per row (ss -> mu -> bit pack)
        parsed = rel.select(*keep, ss.alias("ss"))
        mu = (
            F.aggregate("ss", F.lit(0).cast("long"), lambda a, v: a + v)
            / MM_PHASH_BITS
        )
        staged = parsed.select(*keep, "ss", mu.alias("mu"))
        hash_expr = F.aggregate(
            F.sequence(F.lit(0), F.lit(MM_PHASH_BITS - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.when(
                F.element_at("ss", (j + 1).cast("int")) > F.col("mu"),
                # 2^j as a double is exact through j = 31 (< 2^53)
                F.pow(F.lit(2.0), j.cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        return staged.select(*keep, hash_expr.alias("ph"))

    def band_explode(rel: DataFrame, keep: list[str]) -> DataFrame:
        return rel.select(
            *keep,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.shiftright("ph", 8 * b)
                            .bitwiseAND(F.lit(255))
                            .alias("band_val"),
                        )
                        for b in range(MM_PHASH_BANDS)
                    ]
                )
            ).alias("bd"),
        ).select(*keep, "bd.band_idx", "bd.band_val")

    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("long")
    if not dup_heavy(raw, "text"):
        # (near-)duplicate-free corpus: the collapse buys nothing — run
        # the direct copy-level chain with none of the bookkeeping
        hashed = with_ph(d, ["doc_id"])
        bands = band_explode(hashed, ["doc_id", "ph"])
        wb = Window.partitionBy("band_idx", "band_val")
        eligible = (
            bands.withColumn("bn", F.count("*").over(wb))
            .filter(
                (F.col("bn") >= 2) & (F.col("bn") <= MM_PHASH_BUCKET_CAP)
            )
            .drop("bn")
        )
        a, b = eligible.alias("a"), eligible.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("a.ph").alias("ph_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("b.ph").alias("ph_b"),
            )
            .distinct()
        )
        return cand.select("doc_a", "doc_b", ham.alias("hamming")).filter(
            F.col("hamming") <= MM_PHASH_HAM_MAX
        )

    # --- collapsed path: one representative per distinct blob, keyed
    # by gid = min member doc_id (a LONG — the sha identifies the
    # group only during collapse, never rides a hot shuffle).  ph is
    # computed at COPY level (pure projection in the scan stage, no
    # shuffle) so the one corpus-wide shuffle — the group window —
    # carries (doc_id, gh, ph), never text bytes.
    grp = (
        content_groups(
            with_ph(d.select("doc_id", "text"), ["doc_id", "text"]),
            "doc_id",
            "text",
            carry=("ph",),
            cap=MM_PHASH_BUCKET_CAP,
        )
        .drop("gh")
        .localCheckpoint(eager=True)
    )
    bands = band_explode(grp, ["gid", "ph", "m"])  # slim: longs only
    wb = Window.partitionBy("band_idx", "band_val")
    eligible = (
        bands.withColumn("bn", F.sum("m").over(wb))  # COPY count
        .filter((F.col("bn") >= 2) & (F.col("bn") <= MM_PHASH_BUCKET_CAP))
        .drop("bn")
    )
    # distinct group pairs sharing a kept bucket, Hamming-verified once
    # per group pair
    a, b = eligible.alias("a"), eligible.alias("b")
    verified = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(
            F.col("a.gid").alias("gid_a"),
            F.col("a.ph").alias("ph_a"),
            F.col("b.gid").alias("gid_b"),
            F.col("b.ph").alias("ph_b"),
        )
        .dropDuplicates(["gid_a", "gid_b"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= MM_PHASH_HAM_MAX)
    )
    return expand_group_pairs(grp, eligible, verified, "hamming")


#: Shot-boundary rule: consecutive frames whose 16-bin byte-histogram
#: L1 distance exceeds half the frame length (integer compare: more
#: than 50% of the frame's bytes changed bins).
SHOT_L1_NUM = 1
SHOT_L1_DEN = 2

SHOT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_boundaries", T.LongType()),
        T.StructField("first_boundary_idx", T.LongType()),
    ]
)


@register(
    "mm_shot_boundaries",
    sql=f"""
        WITH framed AS (
            SELECT doc_id,
                   CAST(octet_length(CAST(text AS BLOB)) // {FRAME_BYTES}
                        AS BIGINT) AS n_frames,
                   text
            FROM documents
            WHERE octet_length(CAST(text AS BLOB)) // {FRAME_BYTES} >= 2
        ),
        bytes AS (
            SELECT doc_id, n_frames,
                   CAST((u.i - 1) // {FRAME_BYTES} AS BIGINT) AS frame_idx,
                   ascii(substr(text, u.i, 1)) * {N_HIST_BINS} // 256
                       AS bin
            FROM framed,
                 LATERAL unnest(range(1, CAST(n_frames * {FRAME_BYTES} + 1
                                               AS BIGINT))) AS u(i)
        ),
        hists AS (
            SELECT doc_id, n_frames, frame_idx, bin,
                   CAST(count(*) AS BIGINT) AS c
            FROM bytes GROUP BY 1, 2, 3, 4
        ),
        frames AS (
            SELECT doc_id, n_frames,
                   CAST(u.fi AS BIGINT) AS frame_idx
            FROM framed, LATERAL unnest(range(0, n_frames)) AS u(fi)
        ),
        dense AS (
            SELECT f.doc_id, f.n_frames, f.frame_idx, b.bin,
                   coalesce(h.c, 0) AS c
            FROM frames f
            CROSS JOIN (SELECT unnest(range(0, {N_HIST_BINS})) AS bin) b
            LEFT JOIN hists h
              ON h.doc_id = f.doc_id AND h.frame_idx = f.frame_idx
             AND h.bin = b.bin
        ),
        l1 AS (
            SELECT a.doc_id, a.n_frames, b.frame_idx AS cur_idx,
                   CAST(sum(abs(a.c - b.c)) AS BIGINT) AS dist
            FROM dense a
            JOIN dense b
              ON b.doc_id = a.doc_id AND b.frame_idx = a.frame_idx + 1
             AND b.bin = a.bin
            GROUP BY 1, 2, 3
        )
        SELECT doc_id, CAST(max(n_frames) AS BIGINT) AS n_frames,
               CAST(sum(CASE WHEN dist * {SHOT_L1_DEN}
                                  > {FRAME_BYTES} * {SHOT_L1_NUM} * 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
               CAST(min(CASE WHEN dist * {SHOT_L1_DEN}
                                  > {FRAME_BYTES} * {SHOT_L1_NUM} * 2
                             THEN cur_idx END) AS BIGINT)
                   AS first_boundary_idx
        FROM l1
        GROUP BY doc_id
    """,
)
def mm_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over opaque video blobs — the classic
    histogram-difference cut detector (consecutive frames whose
    byte-histogram L1 distance exceeds half the frame mass), run as a
    mapInPandas kernel over FRAME_BYTES slices (same honest
    decode-stub contract as mm_frame_sample: swap the slicer for a
    real frame reader and the schema/batching/partitioning are
    unchanged). Output per blob: frame count, boundary count, first
    boundary index — the shot manifest a video-curation pipeline
    samples clips from.

    Exactness: histograms are integer counts, L1 distances are
    integers, and the threshold is an integer cross-multiplication —
    nothing floats. The DuckDB twin recomputes the same hists from
    ascii() bytes (the fixture is ASCII, so char == byte; real media
    is binary, which only the Spark side models). Scale shape: one
    Python stage, per-doc state only (a frame pair at a time),
    boundary output rows per BLOB, not per frame."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("blob")
    )

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "n_frames": [],
                "n_boundaries": [],
                "first_boundary_idx": [],
            }
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n_frames = len(blob) // FRAME_BYTES
                if n_frames < 2:
                    continue

                def hist(idx: int) -> list[int]:
                    h = [0] * N_HIST_BINS
                    for byte in blob[
                        idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES
                    ]:
                        h[byte * N_HIST_BINS // 256] += 1
                    return h

                prev = hist(0)
                n_b = 0
                first = None
                for idx in range(1, n_frames):
                    cur = hist(idx)
                    dist = sum(abs(a - b) for a, b in zip(prev, cur))
                    if dist * SHOT_L1_DEN > FRAME_BYTES * SHOT_L1_NUM * 2:
                        n_b += 1
                        if first is None:
                            first = idx
                    prev = cur
                out["doc_id"].append(doc_id)
                out["n_frames"].append(n_frames)
                out["n_boundaries"].append(n_b)
                out["first_boundary_idx"].append(first)
            yield pd.DataFrame(out)

    return d.mapInPandas(detect, SHOT_SCHEMA)
