"""Multimodal (image/audio/video) column plumbing for the training-data
pipeline surface.

Media lives as opaque ``binary`` columns with typed metadata; the
Spark-side machinery — schema, partitioning, Arrow batch shape, UDF
signatures — is real and tested. Decode is REAL for the dependency-free
formats (netpbm PGM images and PCM16 WAV audio — numpy + stdlib only;
see the real-decoders section below, exercised end-to-end in
tests/test_multimodal.py), and STUBBED only for codec-library formats
(png/jpeg/mp4): ``real_features`` raises ``NotImplementedError`` there,
the loud PIL/librosa/ffmpeg integration point (mirroring the reference's
CPS_OFFLINE model fallbacks).

Operators:
- ``media_assets``: build an assets frame (asset_id, media BINARY,
  media_type, n_bytes, meta) — here synthesized from documents.text bytes
  so tests have real binary payloads of varying size.
- ``extract_features``: mapInPandas over binary -> fixed-width feature
  vector. The fake decoder emits deterministic md5-derived features;
  a real decoder (PIL/librosa/ffmpeg) plugs into the same batch signature.
- ``frame_sample``: the video-path shape — one row per sampled "frame"
  (explode of byte-range slices), demonstrating fan-out partitioning.

Scale notes: binary columns are stored/read as parquet BYTE_ARRAY pages —
column pruning keeps metadata-only queries from touching the payload;
``spark.sql.files.maxPartitionBytes`` bounds per-task media volume;
feature extraction is embarrassingly parallel and stays in mapInPandas
(Arrow batches bound worker memory).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

N_FEATURES = 8

FEATURES_SCHEMA = ("asset_id bigint, media_type string, n_bytes bigint, "
                   "features array<double>")


def media_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a binary assets frame from documents (deterministic).
    NULL-text docs carry no payload and are excluded — a NULL media
    column must never reach a decoder batch (bytes(None) raises), and
    the oracles apply the identical predicate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("text").isNotNull())
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("media"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
         .when(F.col("doc_id") % 3 == 1, "audio/wav")
         .otherwise("video/mp4").alias("media_type"),
        F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder: N_FEATURES doubles from
    the md5 digest bytes, scaled to [0, 1]."""
    digest = hashlib.md5(payload).digest()
    return [b / 255.0 for b in digest[:N_FEATURES]]


def extract_features(assets: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas media -> feature vectors (Arrow-batched). With
    ``fake=False`` payloads are REALLY decoded: PGM images and PCM16 WAV
    through the dependency-free decoders below; codec-library formats
    raise through ``real_features`` (the loud integration point)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_features(m) if fake else real_features(bytes(m))
                for m in pdf["media"]
            ]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["n_bytes"],
                "features": feats,
            })

    return assets.mapInPandas(run, FEATURES_SCHEMA)


_HEX = "0123456789abcdef"


def media_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the full multimodal plumbing — binary assets
    frame -> Arrow-batched mapInPandas feature extraction (fake decoder) ->
    flat projection. The feature vector is flattened to scalar columns so
    the DuckDB oracle can recompute it arithmetically (the fake features
    are md5-digest bytes / 255)."""
    feats = extract_features(media_assets(spark, sf_dir), fake=True)
    cols = [F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
            for i in range(N_FEATURES)]
    return feats.select("asset_id", "media_type", "n_bytes", *cols)


def media_features_oracle_sql() -> str:
    """DuckDB-arithmetic equivalent of the fake decoder: byte i of
    md5(payload) decoded from hex digits, / 255."""
    def byte_expr(i: int) -> str:
        c1 = f"substr(md5(text), {2 * i + 1}, 1)"
        c2 = f"substr(md5(text), {2 * i + 2}, 1)"
        return (f"((instr('{_HEX}', {c1}) - 1) * 16 "
                f"+ (instr('{_HEX}', {c2}) - 1))")
    feats = ", ".join(
        f"round({byte_expr(i)} / 255.0, 6) AS f{i}"
        for i in range(N_FEATURES))
    return f"""
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       octet_length(encode(text)) AS n_bytes,
       {feats}
FROM documents WHERE text IS NOT NULL
"""


def frame_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: video-path frame sampling over real binary
    payloads; output drops the raw bytes (frame_size proves the slicing)
    so the oracle can verify arithmetically."""
    return frame_sample(media_assets(spark, sf_dir)).select(
        "asset_id", F.col("frame_no").cast("bigint").alias("frame_no"),
        F.col("frame_size").cast("bigint").alias("frame_size"))


def frame_sample_oracle_sql() -> str:
    return """
WITH a AS (
  SELECT doc_id AS asset_id, octet_length(encode(text)) AS n_bytes
  FROM documents WHERE doc_id % 3 = 2 AND text IS NOT NULL
),
f AS (
  SELECT asset_id, n_bytes,
         unnest(range(0, CAST(floor(n_bytes / 256.0) AS BIGINT) + 1))
           AS frame_no
  FROM a
)
SELECT asset_id, frame_no,
       greatest(least(64, n_bytes - frame_no * 256),
                0) AS frame_size
FROM f
"""


def resize_media(assets: DataFrame, target_bytes: int = 32,
                 fake: bool = True) -> DataFrame:
    """Media resize shape: binary -> smaller binary through the same
    Arrow-batched mapInPandas signature a real resizer (PIL thumbnail /
    audio downsample / ffmpeg scale) plugs into. The fake codec is
    deterministic stride subsampling: stride = ceil(n/target), keep
    every stride-th byte from offset 0 — output length is exactly
    ceil(n/stride) <= target (byte-exact contract tested in
    tests/test_multimodal.py).

    Output: asset_id, media_type, n_bytes, resized BINARY,
    resized_bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_cols = ("asset_id", "media_type", "n_bytes")
        for pdf in batches:
            resized = []
            for m in pdf["media"]:
                if not fake:
                    # REAL resize for the decodable formats (PGM pixels
                    # / WAV samples); unknown formats raise loudly
                    resized.append(resize_real(bytes(m), target_bytes))
                    continue
                b = bytes(m)
                if len(b) > target_bytes:
                    stride = -(-len(b) // target_bytes)
                    b = b[::stride]
                resized.append(b)
            out = {c: pdf[c] for c in out_cols}
            out["resized"] = resized
            out["resized_bytes"] = [len(b) for b in resized]
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        run, "asset_id bigint, media_type string, n_bytes bigint, "
             "resized binary, resized_bytes bigint")


def media_resize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: resize plumbing over real binary payloads;
    the oracle verifies the size arithmetic (stride subsample length),
    byte content is pinned by the unit test."""
    return resize_media(media_assets(spark, sf_dir)).select(
        "asset_id", "media_type", "n_bytes", "resized_bytes")


def media_resize_oracle_sql() -> str:
    n = "octet_length(encode(text))"
    stride = f"CAST(ceil({n} / 32.0) AS BIGINT)"
    return f"""
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       {n} AS n_bytes,
       CASE WHEN {n} <= 32 THEN {n}
            ELSE CAST(ceil({n} / CAST({stride} AS DOUBLE)) AS BIGINT)
       END AS resized_bytes
FROM documents WHERE text IS NOT NULL
"""


def frame_sample(assets: DataFrame, every: int = 256,
                 frame_bytes: int = 64) -> DataFrame:
    """Video-path shape: sample fixed-size byte 'frames' every ``every``
    bytes — one output row per frame (JVM-side explode, no Python)."""
    n_frames = (F.col("n_bytes") / every).cast("int") + 1
    exploded = (
        assets.where(F.col("media_type") == "video/mp4")
        .select("asset_id", "media",
                F.posexplode(F.sequence(F.lit(0), n_frames - 1))
                .alias("frame_no", "_i"))
    )
    return (
        exploded
        .withColumn("frame_bytes",
                    F.substring(F.col("media"), F.col("_i") * every + 1,
                                frame_bytes))
        .select("asset_id", "frame_no", "frame_bytes",
                F.octet_length("frame_bytes").alias("frame_size"))
    )


# --- audio path: per-window energy -------------------------------------------

#: Non-overlapping analysis window, in payload bytes. A real audio
#: pipeline frames PCM samples the same way (librosa frame_length/
#: hop_length); the fake decoder treats each byte as one unsigned
#: sample.
AUDIO_WINDOW = 64


def audio_window_energy(assets: DataFrame,
                        window: int = AUDIO_WINDOW) -> DataFrame:
    """Audio-path feature extraction: frame each audio payload into
    non-overlapping ``window``-byte frames and emit mean-amplitude
    energy per frame — the vectorized numpy shape (frombuffer +
    add.reduceat, no per-sample Python loop) a real PCM energy/VAD
    stage uses; a real decoder (librosa/soundfile) plugs into the same
    mapInPandas signature.

    Cross-engine float discipline: energy = floor(mean/255 * 1e6 + .5)
    / 1e6 — exact integer byte_sum and win_len are also emitted, so the
    rounding is checkable.

    Output: asset_id, window_no, win_len, byte_sum, energy."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "window_no": [], "win_len": [],
                   "byte_sum": [], "energy": []}
            for aid, m in zip(pdf["asset_id"], pdf["media"]):
                b = np.frombuffer(bytes(m), dtype=np.uint8)
                n = len(b)
                if n == 0:
                    continue
                starts = np.arange(0, n, window)
                sums = np.add.reduceat(b.astype(np.int64), starts)
                lens = np.diff(np.append(starts, n))
                energy = np.floor(sums / (lens * 255.0) * 1e6 + 0.5) / 1e6
                k = len(starts)
                out["asset_id"] += [aid] * k
                out["window_no"] += range(k)
                out["win_len"] += lens.tolist()
                out["byte_sum"] += sums.tolist()
                out["energy"] += energy.tolist()
            if out["asset_id"]:
                yield pd.DataFrame(out)

    return (assets.where(F.col("media_type") == "audio/wav")
            .select("asset_id", "media")
            .mapInPandas(run, "asset_id bigint, window_no bigint, "
                              "win_len bigint, byte_sum bigint, "
                              "energy double"))


def audio_energy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ASCII-payload gate: the oracle's ord(substr(text, ...)) arithmetic
    # is byte-exact only where byte count == codepoint count, so BOTH
    # sides restrict to that domain explicitly — a non-ASCII corpus
    # consistently excludes those assets on engine and oracle alike
    # instead of silently diverging (this DuckDB build has no blob
    # byte-indexing to make the oracle byte-exact beyond ASCII).
    assets = media_assets(spark, sf_dir).where(
        F.col("n_bytes") == F.length(F.decode(F.col("media"), "utf-8")))
    return audio_window_energy(assets)


def audio_energy_oracle_sql() -> str:
    """Byte arithmetic over the payload, valid on the ASCII domain the
    query pins (char position == byte position, ord == byte value); the
    identical ascii gate keeps both sides' row sets equal on any corpus.
    """
    return f"""
WITH a AS (
  SELECT doc_id AS asset_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL
    AND octet_length(encode(text)) = length(text)
),
w AS (
  SELECT asset_id, text, n,
         unnest(range(0, CAST(ceil(n / {AUDIO_WINDOW}.0) AS BIGINT)))
           AS window_no
  FROM a WHERE n > 0
),
b AS (
  SELECT asset_id, window_no,
         CAST(least({AUDIO_WINDOW}, n - window_no * {AUDIO_WINDOW}) AS BIGINT)
           AS win_len,
         unnest(range(0, least({AUDIO_WINDOW},
                               n - window_no * {AUDIO_WINDOW}))) AS j,
         text
  FROM w
)
SELECT asset_id, window_no, win_len,
       CAST(SUM(ord(substr(text,
                           CAST(window_no * {AUDIO_WINDOW} + j + 1 AS INT),
                           1)))
            AS BIGINT) AS byte_sum,
       floor(SUM(ord(substr(text,
                            CAST(window_no * {AUDIO_WINDOW} + j + 1 AS INT),
                            1)))
             / (win_len * 255.0) * 1000000 + 0.5) / 1000000 AS energy
FROM b GROUP BY asset_id, window_no, win_len
"""


# --- REAL decoders for dependency-free formats ------------------------------
# netpbm PGM (P2 ascii / P5 raw) images and PCM16 WAV audio decode with
# numpy + the stdlib ONLY — so this environment exercises a genuinely
# decoded media path end-to-end (parse -> pixels/samples -> features /
# resize -> re-encode), not just the fake. Codec-library formats
# (png/jpeg/mp4) raise in real_features, the codec integration point.

def sniff_media(payload: bytes) -> str:
    if payload[:2] in (b"P2", b"P5"):
        return "pgm"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return "unknown"


def decode_pgm_full(payload: bytes):
    """netpbm PGM -> ((h, w) uint8 array, maxval). Handles P2 (ascii)
    and P5 (raw), '#' comments (header AND raster sections — the plain
    spec allows them anywhere), and maxval <= 255 (the 1-byte range)."""
    import numpy as np
    if payload[:2] not in (b"P2", b"P5"):
        raise ValueError("not a PGM payload")
    # header: magic, width, height, maxval — whitespace-separated with
    # optional comment lines; after maxval exactly ONE whitespace byte
    # precedes the P5 raster
    tokens, i, n = [], 2, len(payload)
    while len(tokens) < 3 and i < n:
        while i < n and payload[i:i + 1].isspace():
            i += 1
        if i >= n:      # trailing whitespace/comment, no token follows
            break
        if payload[i:i + 1] == b"#":
            while i < n and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not payload[j:j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    if len(tokens) != 3:
        raise ValueError("truncated PGM header")
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("multi-byte PGM maxval not supported")
    if payload[:2] == b"P5":
        raster = payload[i + 1:i + 1 + w * h]
        img = np.frombuffer(raster, dtype=np.uint8, count=w * h)
    else:
        # the plain-netpbm spec allows '#' comments ANYWHERE, including
        # between raster samples — strip them before tokenizing
        import re as _re
        clean = _re.sub(rb"#[^\n]*", b"", payload[i:])
        img = np.array(clean.split()[:w * h], dtype=np.uint8)
    return img.reshape(h, w), maxval


def decode_pgm(payload: bytes):
    """netpbm PGM -> (h, w) uint8 array (see :func:`decode_pgm_full`
    for the maxval-carrying form the feature path needs)."""
    return decode_pgm_full(payload)[0]


def encode_pgm(img) -> bytes:
    """(h, w) uint8 array -> canonical P5 bytes."""
    h, w = img.shape
    return b"P5\n%d %d\n255\n" % (w, h) + img.astype("uint8").tobytes()


def decode_wav_pcm16(payload: bytes):
    """PCM16 WAV -> (samples int16 ndarray, sample_rate)."""
    import io
    import wave

    import numpy as np
    with wave.open(io.BytesIO(payload)) as f:
        if f.getsampwidth() != 2 or f.getnchannels() != 1:
            # stereo decoded as pseudo-mono would silently interleave
            # channels into every stat — reject loudly instead
            raise ValueError("only mono PCM16 WAV supported")
        rate = f.getframerate()
        frames = f.readframes(f.getnframes())
    return np.frombuffer(frames, dtype="<i2"), rate


def encode_wav_pcm16(samples, rate: int) -> bytes:
    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def real_features(payload: bytes) -> list[float]:
    """N_FEATURES summary stats from a REALLY decoded payload. PGM:
    [h, w, min, max, mean, std, p25, p75] (pixel stats / maxval); WAV:
    [n_samples, rate, mean, std, min, max, rms, zero-cross rate]
    (amplitudes / 32768). Unknown formats raise — that is the
    codec-library integration point, kept loud."""
    import numpy as np
    kind = sniff_media(payload)
    if kind == "pgm":
        raw, maxval = decode_pgm_full(payload)
        img = raw.astype(np.float64)
        h, w = img.shape
        mv = float(maxval)  # normalize by the HEADER maxval, not 255:
        # a maxval=15 all-white pixel is full intensity (1.0)
        return [float(h), float(w), float(img.min()) / mv,
                float(img.max()) / mv, float(img.mean()) / mv,
                float(img.std()) / mv,
                float(np.percentile(img, 25)) / mv,
                float(np.percentile(img, 75)) / mv]
    if kind == "wav":
        s, rate = decode_wav_pcm16(payload)
        a = s.astype(np.float64) / 32768.0
        zcr = float(np.mean(np.signbit(a[1:]) != np.signbit(a[:-1]))) \
            if len(a) > 1 else 0.0
        return [float(len(s)), float(rate), float(a.mean()),
                float(a.std()), float(a.min()), float(a.max()),
                float(np.sqrt(np.mean(a * a))), zcr]
    raise NotImplementedError(
        "payload is neither PGM nor PCM WAV; codec formats need a "
        "library not present in this environment")


def resize_real(payload: bytes, target_bytes: int) -> bytes:
    """Real resize for the decodable formats: PGM -> nearest-neighbor
    downscale so the re-encoded raster fits target_bytes; WAV ->
    stride-decimated samples fitting target_bytes. The same byte-budget
    contract as the fake stride path, but through actual pixels/samples.
    """
    import numpy as np
    kind = sniff_media(payload)
    if kind == "pgm":
        img = decode_pgm(payload)
        h, w = img.shape
        # isotropic first guess, then budget redistribution: a thin
        # image clamps one dimension at 1 and the isotropic scale alone
        # leaves the other 3x over budget (caught by review); the
        # correction loop re-fits the free dimension against the EXACT
        # header length. The 1x1 image is the floor — it may exceed a
        # sub-13-byte target, which no PGM can meet.
        budget = max(target_bytes - 15, 1)
        scale = min(1.0, (budget / float(h * w)) ** 0.5)
        oh, ow = max(1, int(h * scale)), max(1, int(w * scale))
        for _ in range(4):
            hdr = 9 + len(str(ow)) + len(str(oh))
            room = max(target_bytes - hdr, 1)
            if oh * ow <= room:
                break
            if ow >= oh:
                ow = max(1, room // oh)
            else:
                oh = max(1, room // ow)
        ri = (np.arange(oh) * h // oh)
        ci = (np.arange(ow) * w // ow)
        return encode_pgm(img[np.ix_(ri, ci)])
    if kind == "wav":
        s, rate = decode_wav_pcm16(payload)
        n_out = max((target_bytes - 44) // 2, 1)  # 44-byte canonical hdr
        if len(s) > n_out:
            stride = -(-len(s) // n_out)
            s = s[::stride]
            rate = max(rate // stride, 1)
        return encode_wav_pcm16(s, rate)
    raise NotImplementedError(
        "payload is neither PGM nor PCM WAV; codec formats need a "
        "library not present in this environment")


# --- driver-gated REAL decode: SQL-built PGM corpus --------------------------
# The repeated-spans trick applied to media: payloads are P5 PGMs BUILT
# IN SPARK SQL from a per-doc pixel formula (pixels < 128, so chr() ->
# UTF-8 encode is byte-identity), the engine REALLY decodes them in the
# Arrow stage (header parse + raster frombuffer), and the DuckDB oracle
# re-derives every feature arithmetically from the same formula without
# ever touching bytes — decoder correctness is oracle-gated, not just
# unit-tested.

def synthetic_pgm_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One real P5 payload per document id: w = 4 + k%5, h = 3 + k%7,
    pixel(i) = (k*7 + i*13) % 128."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    k = F.col("doc_id")
    w = (k % 5 + 4).cast("int")
    h = (k % 7 + 3).cast("int")
    payload = F.encode(F.concat(
        F.lit("P5\n"), w.cast("string"), F.lit(" "), h.cast("string"),
        F.lit("\n255\n"),
        F.expr("array_join(transform(sequence(0, int((doc_id % 7 + 3) * "
               "(doc_id % 5 + 4)) - 1), "
               "i -> chr(int((doc_id * 7 + i * 13) % 128))), '')")),
        "utf-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"), payload.alias("media"),
        F.lit("image/x-portable-graymap").alias("media_type"),
        F.octet_length(payload).alias("n_bytes"))


def real_pgm_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(synthetic_pgm_assets(spark, sf_dir),
                             fake=False)
    cols = [F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
            for i in range(N_FEATURES)]
    return feats.select("asset_id", "n_bytes", *cols)


def real_pgm_features_oracle_sql() -> str:
    """Pure-arithmetic oracle: pixel stats from the generator formula.
    std is the two-pass sqrt(avg((p - mean)^2)) — numpy's algorithm —
    not the cancellation-prone E[x^2]-E[x]^2 form; percentiles are
    quantile_cont (numpy's linear interpolation)."""
    return """
WITH d AS (
  SELECT doc_id, CAST(doc_id % 5 + 4 AS BIGINT) AS w,
         CAST(doc_id % 7 + 3 AS BIGINT) AS h
  FROM documents
),
px AS (
  SELECT doc_id, w, h, unnest(range(0, h * w)) AS i FROM d
),
pv AS (
  SELECT doc_id, w, h,
         CAST((doc_id * 7 + i * 13) % 128 AS DOUBLE) AS p,
         AVG(CAST((doc_id * 7 + i * 13) % 128 AS DOUBLE))
           OVER (PARTITION BY doc_id) AS mp
  FROM px
),
st AS (
  SELECT doc_id, MAX(h) AS h, MAX(w) AS w,
         MIN(p) AS mn, MAX(p) AS mx, AVG(p) AS mean,
         sqrt(AVG((p - mp) * (p - mp))) AS sd,
         quantile_cont(p, 0.25) AS q25, quantile_cont(p, 0.75) AS q75
  FROM pv GROUP BY doc_id
)
SELECT s.doc_id AS asset_id,
       -- header = 'P5\\n' (3) + w + ' ' (1) + h + '\\n255\\n' (5)
       -- = 9 fixed chars + the digit widths, then h*w raster bytes
       CAST(9 + length(CAST(s.w AS VARCHAR))
              + length(CAST(s.h AS VARCHAR)) + s.h * s.w AS BIGINT)
         AS n_bytes,
       round(CAST(s.h AS DOUBLE), 6) AS f0,
       round(CAST(s.w AS DOUBLE), 6) AS f1,
       round(s.mn / 255.0, 6) AS f2,
       round(s.mx / 255.0, 6) AS f3,
       round(s.mean / 255.0, 6) AS f4,
       round(s.sd / 255.0, 6) AS f5,
       round(s.q25 / 255.0, 6) AS f6,
       round(s.q75 / 255.0, 6) AS f7
FROM st s
"""


# --- driver-gated REAL WAV decode: SQL-built PCM16 corpus --------------------
# Same discipline as the PGM gate, for audio: canonical 44-byte RIFF
# PCM16 headers + little-endian samples are assembled IN SPARK SQL as a
# hex string (unhex -> bytes), the engine REALLY parses them with the
# stdlib wave reader inside the Arrow stage, and DuckDB re-derives every
# stat from the sample formula s(i) = ((k*11 + i*17) % 241) - 120.

WAV_RATE = 8000


def _le_hex_sql(expr: str, n_bytes: int) -> str:
    """Spark SQL hex string of ``expr`` as n_bytes little-endian. The
    expr is parenthesized: `div` binds at multiplicative precedence, so
    an additive expr like '36 + 2*n' would otherwise parse as
    '36 + ((2*n) div ...)' and corrupt the upper bytes (caught by
    review: the RIFF chunk-size field read ~606 MB)."""
    parts = [f"lpad(hex(pmod(({expr}) div {256 ** b}, 256)), 2, '0')"
             for b in range(n_bytes)]
    return "concat(" + ", ".join(parts) + ")"


def synthetic_wav_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One real mono PCM16 WAV per document id: n = 20 + k%13 samples at
    WAV_RATE, sample(i) = ((k*11 + i*17) % 241) - 120."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    n = "(doc_id % 13 + 20)"
    s = "(pmod(doc_id * 11 + i * 17, 241) - 120)"
    sample_hex = (f"array_join(transform(sequence(0, int({n}) - 1), "
                  f"i -> {_le_hex_sql(f'pmod({s}, 65536)', 2)}), '')")
    header_hex = " , ".join([
        "'52494646'",                        # RIFF
        _le_hex_sql(f"36 + 2 * {n}", 4),     # chunk size
        "'57415645666d7420'",                # WAVE + 'fmt '
        "'10000000'", "'0100'", "'0100'",    # fmt len 16, PCM, mono
        _le_hex_sql(str(WAV_RATE), 4),
        _le_hex_sql(str(WAV_RATE * 2), 4),   # byte rate
        "'0200'", "'1000'",                  # block align, 16 bits
        "'64617461'",                        # data
        _le_hex_sql(f"2 * {n}", 4),
    ])
    payload = F.expr(f"unhex(concat({header_hex}, {sample_hex}))")
    return docs.select(
        F.col("doc_id").alias("asset_id"), payload.alias("media"),
        F.lit("audio/wav").alias("media_type"),
        F.octet_length(payload).alias("n_bytes"))


def real_wav_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = extract_features(synthetic_wav_assets(spark, sf_dir),
                             fake=False)
    cols = [F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
            for i in range(N_FEATURES)]
    return feats.select("asset_id", "n_bytes", *cols)


def real_wav_features_oracle_sql() -> str:
    """Arithmetic oracle for the WAV feature vector [n, rate, mean, std,
    min, max, rms, zcr] over amplitudes s/32768 — std two-pass, zcr =
    share of adjacent sign(bit) flips (negative-only, matching numpy
    signbit on integer-derived floats)."""
    return f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id % 13 + 20 AS BIGINT) AS n FROM documents
),
ix AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
sv AS (
  SELECT doc_id, n, i,
         CAST(((doc_id * 11 + i * 17) % 241) - 120 AS DOUBLE) / 32768.0
           AS a
  FROM ix
),
sv2 AS (
  SELECT doc_id, n, i, a,
         AVG(a) OVER (PARTITION BY doc_id) AS ma,
         lag(a) OVER (PARTITION BY doc_id ORDER BY i) AS pa
  FROM sv
),
st AS (
  SELECT doc_id, MAX(n) AS n,
         AVG(a) AS mean, sqrt(AVG((a - ma) * (a - ma))) AS sd,
         MIN(a) AS mn, MAX(a) AS mx, sqrt(AVG(a * a)) AS rms,
         AVG(CASE WHEN pa IS NULL THEN NULL
                  WHEN (a < 0) <> (pa < 0) THEN 1.0 ELSE 0.0 END) AS zcr
  FROM sv2 GROUP BY doc_id
)
SELECT doc_id AS asset_id, CAST(44 + 2 * n AS BIGINT) AS n_bytes,
       round(CAST(n AS DOUBLE), 6) AS f0,
       round(CAST({float(WAV_RATE)} AS DOUBLE), 6) AS f1,
       round(mean, 6) AS f2, round(sd, 6) AS f3,
       round(mn, 6) AS f4, round(mx, 6) AS f5,
       round(rms, 6) AS f6, round(zcr, 6) AS f7
FROM st
"""


# --- perceptual-hash image near-dup dedup (driver-gated REAL decode) --------
# The multimodal-pipeline dedup operator: average-hash (aHash) over the
# REAL-decoded pixels — 8x8 nearest-neighbor downsample, threshold at
# the downsample mean, 64 bits packed into 4 x 16-bit bands — then
# banded Hamming blocking: candidate pairs share at least one band
# value (the dedup.py LSH discipline, bucket-capped), and survive iff
# their full 64-bit Hamming distance <= PHASH_HAM_MAX.
#
# Oracle discipline = the real_pgm_features gate: payloads are P5 PGMs
# BUILT IN SPARK SQL from a per-doc formula with NEAR-DUPLICATE classes
# by construction (base = doc_id % PHASH_BASES fixes dims + base
# raster; tweak = (doc_id div PHASH_BASES) % PHASH_TWEAKS shifts every
# pixel by tweak*PHASH_TWEAK_STEP mod 128), the engine REALLY decodes
# bytes in the Arrow stage, and DuckDB re-derives hash bits
# arithmetically from the formula without touching bytes. The
# downsample mean is an integer sum (<= 64 * 127 << 2^53) divided by
# 64 — exactly representable — so the p > mean threshold can never
# disagree between numpy and SQL.
#
# 100 TB shape: decode + hash is ONE mapInPandas pass (no shuffle);
# banding explodes 4 rows/doc; the self-join keys on (band, val) with
# oversized buckets dropped whole (cap mirrored in the oracle,
# exclusions observable via phash_excluded_buckets); the Hamming
# verify touches only candidate pairs. No quadratic join anywhere.

PHASH_BASES = 64
PHASH_TWEAKS = 3
PHASH_TWEAK_STEP = 3
#: NOTE (r6 ADVICE): the 4x16-bit banded blocking below is LOSSY at
#: this radius — pigeonhole guarantees a shared band only for pairs
#: with hamming < 4 (the band count), so pairs whose <= 8 differing
#: bits touch all four bands are structurally missed (the recall test
#: floor of 0.8 is that admission made explicit; completeness at
#: ham <= 8 would need >= 9 bands of ~7 bits, paying 9/4 the band-join
#: volume). This is the standard banded-LSH recall/cost trade, shared
#: verbatim by the oracle so the cross-engine gate pins the SAME lossy
#: semantics.
PHASH_HAM_MAX = 8
#: Band-bucket cap — higher than dedup.MAX_BAND_BUCKET because the
#: synthetic corpus packs whole identical-image classes into single
#: buckets by construction (~N/PHASH_BASES docs at any sf). Docs whose
#: pair input was truncated by the cap are observable two ways: the
#: phash_excluded_buckets twin (bucket granularity) and the keep-list's
#: per-doc in_capped_bucket flag (verdict granularity) — an all-keep
#: verdict at scale is distinguishable from a dup-free corpus.
PHASH_MAX_BUCKET = 400


def synthetic_pgm_neardup_assets(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """One real P5 payload per doc with near-dup classes by
    construction: w = 4 + base%5, h = 3 + base%7,
    pixel(i) = (base*7 + i*13 + tweak*PHASH_TWEAK_STEP) % 128."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    base = F.col("doc_id") % PHASH_BASES
    w = (base % 5 + 4).cast("int")
    h = (base % 7 + 3).cast("int")
    payload = F.encode(F.concat(
        F.lit("P5\n"), w.cast("string"), F.lit(" "), h.cast("string"),
        F.lit("\n255\n"),
        F.expr(f"array_join(transform(sequence(0, "
               f"int((doc_id % {PHASH_BASES} % 7 + 3) * "
               f"(doc_id % {PHASH_BASES} % 5 + 4)) - 1), "
               f"i -> chr(int((doc_id % {PHASH_BASES} * 7 + i * 13 + "
               f"(doc_id div {PHASH_BASES}) % {PHASH_TWEAKS} * "
               f"{PHASH_TWEAK_STEP}) % 128))), '')")),
        "utf-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"), payload.alias("media"))


def pgm_neardup_assets_from_docs(docs: DataFrame) -> DataFrame:
    """synthetic_pgm_neardup_assets for an ALREADY-LOADED docs slice —
    the microbatch entry point of streaming.watcher.stream_phash_keep_
    list (a streaming source cannot re-read its own sf_dir). The payload
    expression is the SAME generator formula as
    synthetic_pgm_neardup_assets (kept verbatim; the batch==stream
    identity test in tests/test_streaming.py pins the two in sync)."""
    base = F.col("doc_id") % PHASH_BASES
    w = (base % 5 + 4).cast("int")
    h = (base % 7 + 3).cast("int")
    payload = F.encode(F.concat(
        F.lit("P5\n"), w.cast("string"), F.lit(" "), h.cast("string"),
        F.lit("\n255\n"),
        F.expr(f"array_join(transform(sequence(0, "
               f"int((doc_id % {PHASH_BASES} % 7 + 3) * "
               f"(doc_id % {PHASH_BASES} % 5 + 4)) - 1), "
               f"i -> chr(int((doc_id % {PHASH_BASES} * 7 + i * 13 + "
               f"(doc_id div {PHASH_BASES}) % {PHASH_TWEAKS} * "
               f"{PHASH_TWEAK_STEP}) % 128))), '')")),
        "utf-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"), payload.alias("media"))


def _ahash_rows_loop(pdf):
    """Per-row decode fallback (the general PGM parser): any header
    shape, any maxval — the original row-at-a-time path."""
    import numpy as np
    import pandas as pd

    out = {"asset_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
    for aid, payload in zip(pdf["asset_id"], pdf["media"]):
        img, _maxval = decode_pgm_full(bytes(payload))
        hh, ww = img.shape
        ri = (np.arange(8) * hh) // 8
        ci = (np.arange(8) * ww) // 8
        g = img[np.ix_(ri, ci)].astype(np.float64)
        m = g.mean()          # exact: int sum / 64
        bits = (g > m).astype(np.int64).ravel()
        vals = [int((bits[b * 16:(b + 1) * 16]
                     << np.arange(16)).sum()) for b in range(4)]
        out["asset_id"].append(aid)
        for b in range(4):
            out[f"b{b}"].append(vals[b])
    return pd.DataFrame(out)


def ahash_bands(assets: DataFrame) -> DataFrame:
    """REAL decode -> aHash -> 4 x 16-bit band values, one Arrow pass.
    Bit i (row-major r*8+c) belongs to band i//16 at shift i%16.

    Batch path (guide 4.2 — hand whole batches to vectorized native
    code instead of looping rows in Python): the batch's payloads are
    concatenated into ONE uint8 buffer; single-digit P5 headers
    ("P5\\nW H\\n255\\n", 11 bytes — the only shape the synthetic
    corpus emits, VALIDATED per batch, not assumed) are parsed with
    vectorized byte compares, the 8x8 nearest-neighbor gather becomes
    one fancy-index into the shared buffer, and the threshold + bit
    pack run as (n, 8, 8) array ops. The downsample mean stays the
    exact int-sum/64, so thresholds are bit-identical to the per-row
    path (pinned by test_ahash_vectorized_matches_loop); any batch
    failing the header validation falls back to the per-row decoder.
    Measured at sf0.1 the pass is parallelism-bound either way (0.6 s
    warm over 32 cores); the win is per-core decode throughput at
    production batch sizes, where the Python-loop constant dominates."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts16 = (np.int64(1) << np.arange(16, dtype=np.int64))
        r8 = np.arange(8)
        for pdf in batches:
            if not len(pdf):
                continue
            payloads = [bytes(p) for p in pdf["media"]]
            lens = np.fromiter(map(len, payloads), dtype=np.int64,
                               count=len(payloads))
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            off = np.concatenate(([0], np.cumsum(lens)[:-1]))
            ok = lens >= 11
            if ok.all():
                hdr = buf[off[:, None] + np.arange(11)]
                w = hdr[:, 3].astype(np.int64) - 48
                h = hdr[:, 5].astype(np.int64) - 48
                ok = ((hdr[:, 0] == 80) & (hdr[:, 1] == 53)
                      & (hdr[:, 2] == 10) & (hdr[:, 4] == 32)
                      & (hdr[:, 6] == 10) & (hdr[:, 7] == 50)
                      & (hdr[:, 8] == 53) & (hdr[:, 9] == 53)
                      & (hdr[:, 10] == 10)
                      & (w >= 1) & (w <= 9) & (h >= 1) & (h <= 9)
                      & (lens == 11 + w * h)).all()
            else:
                ok = False
            if not ok:
                yield _ahash_rows_loop(pdf)
                continue
            ri = (r8[None, :] * h[:, None]) // 8          # (n, 8)
            ci = (r8[None, :] * w[:, None]) // 8          # (n, 8)
            idx = (off[:, None, None] + 11
                   + ri[:, :, None] * w[:, None, None]
                   + ci[:, None, :])                      # (n, 8, 8)
            g = buf[idx].astype(np.float64)
            m = g.mean(axis=(1, 2))                       # exact: sum/64
            bits = (g > m[:, None, None]).astype(np.int64).reshape(-1, 4, 16)
            vals = bits @ shifts16                        # (n, 4)
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"].to_numpy(),
                "b0": vals[:, 0].astype(np.int32),
                "b1": vals[:, 1].astype(np.int32),
                "b2": vals[:, 2].astype(np.int32),
                "b3": vals[:, 3].astype(np.int32)})

    return assets.mapInPandas(
        run, schema="asset_id long, b0 int, b1 int, b2 int, b3 int")


def phash_band_rows(hashes: DataFrame) -> DataFrame:
    """(asset_id, b0..b3) -> (asset_id, band, val) long form."""
    keys = [F.struct(F.lit(b).alias("band"),
                     F.col(f"b{b}").alias("val")) for b in range(4)]
    return (hashes.select("asset_id",
                          F.explode(F.array(*keys)).alias("bk"))
            .select("asset_id", "bk.band", "bk.val"))


def phash_dedup_query(spark: SparkSession, sf_dir: str,
                      hashes: DataFrame | None = None) -> DataFrame:
    """Banded aHash near-dup pairs over the SQL-built PGM corpus.
    Output: doc_a, doc_b, hamming (doc_a < doc_b). ``hashes`` lets a
    caller hand over the already-checkpointed (asset_id, b0..b3)
    relation — the decode+aHash pass this query shares with
    phash_keep_list_query (entry-level memo)."""
    if hashes is None:
        hashes = ahash_bands(
            synthetic_pgm_neardup_assets(spark, sf_dir)).localCheckpoint()
    bands = phash_band_rows(hashes)
    bands_ok = (bands.groupBy("band", "val")
                .agg(F.count("*").alias("_bn"))
                .where(F.col("_bn") <= PHASH_MAX_BUCKET)
                .select("band", "val"))
    capped = bands.join(bands_ok, ["band", "val"])
    a, b_ = capped.alias("a"), capped.alias("b")
    pairs = (a.join(b_, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.val") == F.col("b.val"))
                    & (F.col("a.asset_id") < F.col("b.asset_id")))
             .select(F.col("a.asset_id").alias("doc_a"),
                     F.col("b.asset_id").alias("doc_b"))
             .distinct())
    ha = hashes.select(F.col("asset_id").alias("doc_a"),
                       *[F.col(f"b{b}").alias(f"a{b}") for b in range(4)])
    hb = hashes.select(F.col("asset_id").alias("doc_b"),
                       *[F.col(f"b{b}").alias(f"c{b}") for b in range(4)])
    ham = sum(F.bit_count(F.expr(f"a{b} ^ c{b}")) for b in range(4))
    return (pairs.join(ha, "doc_a").join(hb, "doc_b")
            .select("doc_a", "doc_b",
                    ham.cast("bigint").alias("hamming"))
            .where(F.col("hamming") <= PHASH_HAM_MAX))


def phash_excluded_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability twin: the (band, val, n_docs) buckets the cap
    dropped (empty on the synthetic corpus at gate scales)."""
    bands = phash_band_rows(ahash_bands(
        synthetic_pgm_neardup_assets(spark, sf_dir)))
    return (bands.groupBy("band", "val")
            .agg(F.count("*").alias("n_docs"))
            .where(F.col("n_docs") > PHASH_MAX_BUCKET))


def phash_dedup_oracle_sql() -> str:
    """Pure-arithmetic oracle: hash bits re-derived from the generator
    formula (nearest-neighbor index r*h//8, c*w//8; exact mean)."""
    return f"""
WITH d AS (
  SELECT doc_id, doc_id % {PHASH_BASES} AS base,
         (doc_id // {PHASH_BASES}) % {PHASH_TWEAKS} AS tweak
  FROM documents
),
dim AS (
  SELECT doc_id, base, tweak,
         CAST(base % 5 + 4 AS BIGINT) AS w,
         CAST(base % 7 + 3 AS BIGINT) AS h
  FROM d
),
grid AS (
  SELECT doc_id, base, tweak, w, h,
         unnest(range(0, 64)) AS i
  FROM dim
),
gp AS (
  SELECT doc_id, i,
         CAST((base * 7
               + (((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 13
               + tweak * {PHASH_TWEAK_STEP}) % 128 AS DOUBLE) AS p
  FROM grid
),
gm AS (
  SELECT doc_id, i, p, AVG(p) OVER (PARTITION BY doc_id) AS m FROM gp
),
bits AS (
  SELECT doc_id, i, CASE WHEN p > m THEN 1 ELSE 0 END AS bit FROM gm
),
bands AS (
  SELECT doc_id, CAST(i // 16 AS INT) AS band,
         CAST(SUM(bit << (i % 16)) AS INT) AS val
  FROM bits GROUP BY doc_id, i // 16
),
bands_ok AS (
  SELECT band, val FROM bands GROUP BY band, val
  HAVING COUNT(*) <= {PHASH_MAX_BUCKET}
),
capped AS (SELECT b.* FROM bands b JOIN bands_ok USING (band, val)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
hx AS (
  SELECT doc_id,
         MAX(CASE WHEN band = 0 THEN val END) AS b0,
         MAX(CASE WHEN band = 1 THEN val END) AS b1,
         MAX(CASE WHEN band = 2 THEN val END) AS b2,
         MAX(CASE WHEN band = 3 THEN val END) AS b3
  FROM bands GROUP BY doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(bit_count(CAST(xor(a.b0, c.b0) AS BIGINT))
          + bit_count(CAST(xor(a.b1, c.b1) AS BIGINT))
          + bit_count(CAST(xor(a.b2, c.b2) AS BIGINT))
          + bit_count(CAST(xor(a.b3, c.b3) AS BIGINT)) AS BIGINT)
         AS hamming
FROM pairs p
JOIN hx a ON a.doc_id = p.doc_a
JOIN hx c ON c.doc_id = p.doc_b
WHERE bit_count(CAST(xor(a.b0, c.b0) AS BIGINT))
    + bit_count(CAST(xor(a.b1, c.b1) AS BIGINT))
    + bit_count(CAST(xor(a.b2, c.b2) AS BIGINT))
    + bit_count(CAST(xor(a.b3, c.b3) AS BIGINT)) <= {PHASH_HAM_MAX}
"""


def _phash_resolve(spark: SparkSession, bands: DataFrame | None,
                   docs: DataFrame, ham_max: int,
                   max_bucket: int,
                   hashes: DataFrame | None = None) -> DataFrame:
    """Shared resolution/compaction — the single copy behind
    phash_keep_list_query (batch) and
    streaming.watcher.stream_phash_keep_list (drain): bucket-cap
    filter, banded self-join, hamming verification (exact ints, no
    re-decode), connected components, verdict join, plus the per-doc
    in_capped_bucket flag (r6 ADVICE: a doc whose pair input the cap
    truncated must be distinguishable from a genuinely unique doc in
    the verdict itself). Callers hand over EITHER accumulated
    (asset_id, band, val) rows — hashes are re-pivoted from them — or
    the materialized (asset_id, b0..b3) relation itself, from which
    band rows are a cheap explode (r13: the entry memo and the stream
    hash spool both hold hashes already, so the groupBy re-pivot and
    its checkpoints are skipped).
    Output: doc_id, cluster_rep, keep, in_capped_bucket."""
    from .dedup import connected_components
    if hashes is None:
        bands = bands.localCheckpoint(eager=True)
        hashes = (bands.groupBy("asset_id")
                  .agg(*[F.max(F.when(F.col("band") == b, F.col("val")))
                         .alias(f"b{b}") for b in range(4)])
                  .localCheckpoint(eager=True))
    # Decide EVERYTHING with hash CLASSES, not doc rows (the
    # decide-with-small-rows discipline): docs sharing the identical
    # 64-bit hash sit in exactly the same four buckets, so whenever any
    # of those buckets is uncapped the whole class is one verified
    # clique (hamming 0) — a star to the class min carries the same
    # connectivity as the C(n,2) pair clique. Cross-class candidates
    # collapse likewise: every member pair between two classes sharing
    # an uncapped bucket has the SAME hamming (it is a property of the
    # hash pair), so one representative pair per class pair decides it.
    # The bucket census collapses too (r13): a (band, val) bucket's
    # occupancy is the sum of member counts over classes carrying that
    # band value, so bcnt is an aggregation of 4 rows per CLASS, and
    # the capped-doc flag is membership in a class with a capped
    # bucket. After the one hashes groupBy, every relation until the
    # verdict join is class-scale; components and flags are unchanged
    # by construction.
    hcols = [f"b{b}" for b in range(4)]
    classes = (hashes.groupBy(*hcols)
               .agg(F.min("asset_id").alias("rep"),
                    F.count("*").alias("_cn"))
               .localCheckpoint(eager=True))
    cbands = (classes.select(
        "rep", "_cn", *hcols,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.col(f"b{b}").alias("val")) for b in range(4)]))
        .alias("bk"))
        .select("rep", "_cn", *hcols, "bk.band", "bk.val"))
    bcnt = cbands.groupBy("band", "val").agg(F.sum("_cn").alias("_bn"))
    bands_ok = bcnt.where(F.col("_bn") <= max_bucket) \
        .select("band", "val")
    # class-band rows whose bucket survived the cap
    cap_ok = cbands.join(bands_ok, ["band", "val"]) \
        .localCheckpoint(eager=True)
    active = cap_ok.select("rep").distinct()
    members = hashes.join(classes.select(*hcols, "rep"), hcols)
    stars = (members.join(active, "rep")
             .where(F.col("asset_id") != F.col("rep"))
             .select(F.col("rep").alias("doc_a"),
                     F.col("asset_id").alias("doc_b")))
    ca = cap_ok.select("band", "val", F.col("rep").alias("doc_a"),
                       *[F.col(f"b{b}").alias(f"a{b}") for b in range(4)])
    cb = cap_ok.select("band", "val", F.col("rep").alias("doc_b"),
                       *[F.col(f"b{b}").alias(f"c{b}") for b in range(4)])
    ham = sum(F.bit_count(F.expr(f"a{b} ^ c{b}")) for b in range(4))
    cross = (ca.join(cb, ["band", "val"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b",
                     *[F.col(f"a{b}") for b in range(4)],
                     *[F.col(f"c{b}") for b in range(4)])
             .distinct()
             .where(ham.cast("bigint") <= ham_max)
             .select("doc_a", "doc_b"))
    verified = stars.unionByName(cross)
    clusters = connected_components(verified)
    flagged_reps = (cbands.join(bcnt.where(F.col("_bn") > max_bucket)
                                .select("band", "val"), ["band", "val"])
                    .select("rep").distinct())
    flagged = (members.join(flagged_reps, "rep")
               .select(F.col("asset_id").alias("doc_id"))
               .withColumn("_capped", F.lit(True)))
    out = (docs.select("doc_id")
           .join(clusters, "doc_id", "left")
           .join(flagged, "doc_id", "left"))
    rep = F.coalesce(F.col("cluster_rep"), F.col("doc_id"))
    return out.select(
        "doc_id", rep.alias("cluster_rep"),
        (rep == F.col("doc_id")).alias("keep"),
        F.coalesce(F.col("_capped"), F.lit(False))
        .alias("in_capped_bucket"))


def phash_keep_list_query(spark: SparkSession, sf_dir: str,
                          hashes: DataFrame | None = None) -> DataFrame:
    """The image-dedup product verdict (the dedup_keep_list shape for
    the multimodal corpus): one decode pass -> aHash band rows ->
    _phash_resolve (banded pairs, hamming verify, connected components
    via min-label propagation, verdict join). Every corpus doc gets a
    keep/drop row plus the in_capped_bucket observability flag.
    Output: doc_id, cluster_rep, keep, in_capped_bucket.

    Pair recall inherits the lossy 4-band blocking (see the
    PHASH_HAM_MAX note); the oracle shares the blocking so the gate
    pins identical semantics. Scale shape: the pair relation is banded
    + bucket-capped upstream; label propagation is one keyed shuffle
    per round with per-round checkpoints; the verdict join broadcasts
    the (near-dup-bounded) cluster relation under AQE — identical
    discipline to dedup.dedup_keep_list. ``hashes`` as in
    :func:`phash_dedup_query` (the shared decode+aHash pass)."""
    if hashes is None:
        hashes = ahash_bands(
            synthetic_pgm_neardup_assets(spark, sf_dir)) \
            .localCheckpoint(eager=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _phash_resolve(spark, None, docs, PHASH_HAM_MAX, PHASH_MAX_BUCKET,
                          hashes=hashes)


def phash_keep_list_oracle_sql() -> str:
    """Min reachable doc per node via a RECURSIVE CTE over the phash
    pair graph (the dedup_keep_list_sql pattern), with the hash bits
    re-derived arithmetically from the generator formula (the
    phash_dedup_oracle_sql derivation, factored here so the bands CTE
    also feeds the per-doc in_capped_bucket flag)."""
    return f"""
WITH RECURSIVE d AS (
  SELECT doc_id, doc_id % {PHASH_BASES} AS base,
         (doc_id // {PHASH_BASES}) % {PHASH_TWEAKS} AS tweak
  FROM documents
),
dim AS (
  SELECT doc_id, base, tweak,
         CAST(base % 5 + 4 AS BIGINT) AS w,
         CAST(base % 7 + 3 AS BIGINT) AS h
  FROM d
),
grid AS (
  SELECT doc_id, base, tweak, w, h,
         unnest(range(0, 64)) AS i
  FROM dim
),
gp AS (
  SELECT doc_id, i,
         CAST((base * 7
               + (((i // 8) * h // 8) * w + ((i % 8) * w // 8)) * 13
               + tweak * {PHASH_TWEAK_STEP}) % 128 AS DOUBLE) AS p
  FROM grid
),
gm AS (
  SELECT doc_id, i, p, AVG(p) OVER (PARTITION BY doc_id) AS m FROM gp
),
bits AS (
  SELECT doc_id, i, CASE WHEN p > m THEN 1 ELSE 0 END AS bit FROM gm
),
bands AS (
  SELECT doc_id, CAST(i // 16 AS INT) AS band,
         CAST(SUM(bit << (i % 16)) AS INT) AS val
  FROM bits GROUP BY doc_id, i // 16
),
bcnt AS (
  SELECT band, val, COUNT(*) AS _bn FROM bands GROUP BY band, val
),
capped AS (
  SELECT b.* FROM bands b
  JOIN bcnt USING (band, val) WHERE _bn <= {PHASH_MAX_BUCKET}
),
pairs0 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
hx AS (
  SELECT doc_id,
         MAX(CASE WHEN band = 0 THEN val END) AS b0,
         MAX(CASE WHEN band = 1 THEN val END) AS b1,
         MAX(CASE WHEN band = 2 THEN val END) AS b2,
         MAX(CASE WHEN band = 3 THEN val END) AS b3
  FROM bands GROUP BY doc_id
),
phash_pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs0 p
  JOIN hx a ON a.doc_id = p.doc_a
  JOIN hx c ON c.doc_id = p.doc_b
  WHERE bit_count(CAST(xor(a.b0, c.b0) AS BIGINT))
      + bit_count(CAST(xor(a.b1, c.b1) AS BIGINT))
      + bit_count(CAST(xor(a.b2, c.b2) AS BIGINT))
      + bit_count(CAST(xor(a.b3, c.b3) AS BIGINT)) <= {PHASH_HAM_MAX}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM phash_pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM phash_pairs
),
reach(src, node) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (
  SELECT src AS doc_id, MIN(node) AS cluster_rep
  FROM reach GROUP BY src
),
flagged AS (
  SELECT DISTINCT b.doc_id FROM bands b
  JOIN bcnt USING (band, val) WHERE _bn > {PHASH_MAX_BUCKET}
)
SELECT d.doc_id,
       COALESCE(c.cluster_rep, d.doc_id) AS cluster_rep,
       COALESCE(c.cluster_rep, d.doc_id) = d.doc_id AS keep,
       f.doc_id IS NOT NULL AS in_capped_bucket
FROM documents d
LEFT JOIN clusters c ON c.doc_id = d.doc_id
LEFT JOIN flagged f ON f.doc_id = d.doc_id
"""


# --- audio fingerprint dedup (energy-delta sign bits) ------------------------
#
# The audio counterpart of multimodal_phash_dedup: a chromaprint-STYLE
# fingerprint (public concept: Haitsma-Kalker 2002 / AcoustID — sign of
# the energy DELTA between consecutive analysis windows packs into one
# integer; equal fingerprints = same coarse energy envelope) over the
# same byte-window energy fabric audio_window_energy extracts. The bit
# test is an integer cross-multiplication —
#     bit_i = (sum_i * len_{i-1} > sum_{i-1} * len_i)
# i.e. mean_i > mean_{i-1} without EVER dividing — so the whole
# operator is exact integer arithmetic end to end (no rounding
# boundaries at all, unlike the float-energy column next door).
# Round 9: that claim was VIOLATED by the bit packing itself —
# CAST(power(2, window_no - 1) AS BIGINT) on both sides; libm/Math.pow
# is licensed 1 ulp of error, so 2^30 - eps can truncate to the wrong
# bit on some engine builds, which is the identified root cause of the
# round-8 driver hash failure of this query. Both sides now pack with
# shift-left (oracles.shift1 discipline), and a contract test greps the
# repo for any power(2, ...) in hashed-output expressions.
#
# Verdict: exact-match groups on the fingerprint, MIN-id keep rule —
# the repo-wide keep-list discipline. Fingerprint windows are capped
# at FP_BITS (monster payloads contribute one BIGINT regardless).
#
# Scale shape (100 TB): the Arrow stage emits window rows (linear in
# payload bytes / FP_WINDOW); one asset-keyed window+agg builds the
# fingerprints; the group census is one fingerprint-keyed shuffle of
# one row per asset. No joins against the corpus, no quadratic pair
# stage — the fingerprint IS the blocking key.

#: Fingerprint analysis window (bytes). Smaller than AUDIO_WINDOW so
#: the short synthetic payloads still yield 3-34 discriminating bits.
FP_WINDOW = 16
#: Cap on packed delta bits (windows beyond FP_BITS+1 are ignored).
FP_BITS = 32


def _audio_fp_bits_rel(assets: DataFrame,
                       window: int = FP_WINDOW) -> DataFrame:
    """The pre-packing delta-sign stage: per (asset_id, window_no),
    the lag-pair and the cross-multiplied sign ``bit`` — the input of
    the fingerprint packer, kept a named stage so lag + integer
    cross-multiply stay separable from the shiftleft packing and census
    downstream of it."""
    e = audio_window_energy(assets, window) \
        .select("asset_id", "window_no", "win_len", "byte_sum")
    w = Window.partitionBy("asset_id").orderBy("window_no")
    return (
        e.withColumn("prev_sum", F.lag("byte_sum").over(w))
        .withColumn("prev_len", F.lag("win_len").over(w))
        .withColumn(
            "bit",
            (F.col("byte_sum") * F.col("prev_len")
             > F.col("prev_sum") * F.col("win_len")).cast("long")))


def audio_fingerprints(assets: DataFrame,
                       window: int = FP_WINDOW,
                       bits: int = FP_BITS) -> DataFrame:
    """(asset_id, fingerprint, n_windows) — delta-sign bits packed
    little-endian (window 1's delta = bit 0). Single-window assets get
    fingerprint 0 (no deltas), matching the oracle's COALESCE."""
    bitsrel = _audio_fp_bits_rel(assets, window)
    fps = (bitsrel.groupBy("asset_id").agg(
        F.coalesce(
            F.sum(F.when(
                (F.col("window_no") >= 1) & (F.col("window_no") <= bits),
                # shiftleft, NEVER power(): libm pow is licensed 1 ulp
                # of error, so power(2, 30) may render 2^30-eps on one
                # engine build and truncate to the wrong bit — the
                # round-8 driver hash failure of this very operator
                F.col("bit") * F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    "CAST(window_no - 1 AS INT))"))),
            F.lit(0)).alias("fingerprint"),
        F.count("*").alias("n_windows")))
    return fps


def multimodal_audio_fingerprint(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Fingerprint dedup verdict over the audio slice of the media
    corpus: asset_id, fingerprint, n_windows, group_n, keep (MIN-id
    representative of the fingerprint group). Shares the media fabric
    and ASCII-domain gate of audio_energy_query."""
    assets = media_assets(spark, sf_dir).where(
        F.col("n_bytes") == F.length(F.decode(F.col("media"), "utf-8")))
    fps = audio_fingerprints(assets)
    gw = Window.partitionBy("fingerprint")
    return (fps
            .withColumn("group_n", F.count("*").over(gw)
                        .cast("bigint"))
            .withColumn("keep", F.col("asset_id")
                        == F.min("asset_id").over(gw))
            .select("asset_id", "fingerprint",
                    F.col("n_windows").cast("bigint").alias("n_windows"),
                    "group_n", "keep"))


def _audio_fp_cte_prefix() -> str:
    """The shared oracle CTE chain up to the lag-pair relation ``d``
    (same byte arithmetic as audio_energy_oracle_sql, ASCII-domain
    gate identical) — used by both the fingerprint oracle and the
    stage-diagnostic oracle so the two can never drift."""
    return f"""
WITH a AS (
  SELECT doc_id AS asset_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL
    AND octet_length(encode(text)) = length(text)
),
w AS (
  SELECT asset_id, text, n,
         unnest(range(0, CAST(ceil(n / {FP_WINDOW}.0) AS BIGINT)))
           AS window_no
  FROM a WHERE n > 0
),
b AS (
  SELECT asset_id, window_no,
         CAST(least({FP_WINDOW}, n - window_no * {FP_WINDOW}) AS BIGINT)
           AS win_len,
         unnest(range(0, least({FP_WINDOW},
                               n - window_no * {FP_WINDOW}))) AS j,
         text
  FROM w
),
e AS (
  SELECT asset_id, window_no, win_len,
         CAST(SUM(ord(substr(text,
                             CAST(window_no * {FP_WINDOW} + j + 1 AS INT),
                             1))) AS BIGINT) AS byte_sum
  FROM b GROUP BY asset_id, window_no, win_len, text
),
d AS (
  SELECT asset_id, window_no, win_len, byte_sum,
         lag(byte_sum) OVER (PARTITION BY asset_id
                             ORDER BY window_no) AS prev_sum,
         lag(win_len) OVER (PARTITION BY asset_id
                            ORDER BY window_no) AS prev_len
  FROM e
)"""


def audio_fingerprint_oracle_sql() -> str:
    """Lag-delta sign bits packed per asset over the shared CTE chain
    (_audio_fp_cte_prefix); exact-match group census + MIN-id keep."""
    return f"""{_audio_fp_cte_prefix()},
fps AS (
  -- the SUM is CAST back to BIGINT: DuckDB's SUM(BIGINT) widens to
  -- HUGEINT, and the round-10 census pinned the driver hash failures
  -- to exactly "HUGEINT output column with values above 2^31" — the
  -- bit-31 fingerprints here were 5 of the suite's only such values
  -- (operators/sketches.py module docstring has the full finding)
  SELECT asset_id,
         CAST(COALESCE(SUM(CASE WHEN window_no BETWEEN 1 AND {FP_BITS}
                           AND byte_sum * prev_len > prev_sum * win_len
                      THEN (CAST(1 AS BIGINT)
                            << CAST(window_no - 1 AS INTEGER))
                      ELSE 0 END), 0) AS BIGINT) AS fingerprint,
         COUNT(*) AS n_windows
  FROM d GROUP BY asset_id
)
SELECT asset_id, fingerprint,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT)
         AS group_n,
       asset_id = MIN(asset_id) OVER (PARTITION BY fingerprint) AS keep
FROM fps
"""
