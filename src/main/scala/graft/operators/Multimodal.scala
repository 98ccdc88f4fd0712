package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.functions.Portable

/** Multimodal-column plumbing for LLM training-data pipelines: treat
  * media payloads as opaque `binary` columns with typed metadata, and
  * run decode / feature-extraction as columnar transforms.
  *
  * Decode is REAL at both levels the payload permits: mm01/mm04 parse
  * width/height/channels (BMP) and channels/rate/bits (WAV) out of the
  * byte layout ([[Multimodal.decodeBmp]]/[[Multimodal.decodeWav]] —
  * magic sniff + little-endian field reads, all codegen'd built-ins),
  * and because the BMP pixel region is uncompressed, mm02's features
  * and mm03's frame digests are computed from the actual payload
  * bytes (one-pass [[graft.functions.ByteStats]] kernel; md5 of the
  * frame's byte slice) — no codec required. What a production
  * deployment adds for compressed formats (JPEG/H.264/FLAC) is a
  * vectorized decoder in front of the same kernels (a codegen'd
  * Catalyst Expression over BinaryType, or an Arrow-batched UDF) —
  * the surrounding plan is unchanged.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------------
  // BMP header encode/decode (codec-free — pure byte layout, all
  // Catalyst built-ins under whole-stage codegen)
  // ------------------------------------------------------------------

  /** Little-endian unsigned int: `nBytes` bytes of `bin` starting at
    * 1-based `off`, reversed byte-wise and parsed from hex.
    */
  def leUInt(bin: Column, off: Int, nBytes: Int): Column =
    conv(concat((nBytes - 1 to 0 by -1).map(i =>
      hex(substring(bin, off + i, 1))): _*), 16, 10).cast("long")

  private def leBytes(x: Column, nBytes: Int): Column =
    unhex(concat((0 until nBytes).map(i =>
      lpad(hex(shiftright(x, 8 * i).bitwiseAND(lit(255L))), 2, "0")): _*))

  /** A valid 54-byte BITMAPINFOHEADER BMP header for the given
    * dimensions (the payload synthesizer — testdata carries no real
    * media, so the corpus builds one; the DECODER below reads it back
    * from the bytes like any BMP parser would).
    */
  def bmpHeader(width: Column, height: Column, channels: Column,
                dataLen: Column): Column =
    concat(
      lit("BM").cast("binary"),              // 0-1  magic
      leBytes(dataLen + 54, 4),              // 2-5  file size
      lit(Array.fill[Byte](4)(0)),           // 6-9  reserved
      leBytes(lit(54L), 4),                  // 10-13 pixel data offset
      leBytes(lit(40L), 4),                  // 14-17 DIB header size
      leBytes(width, 4),                     // 18-21 width (LE int32)
      leBytes(height, 4),                    // 22-25 height (LE int32)
      leBytes(lit(1L), 2),                   // 26-27 planes
      leBytes(channels * 8, 2),              // 28-29 bits per pixel
      lit(Array.fill[Byte](24)(0)))          // 30-53 compression..palette

  /** REAL header decode: width/height/channels parsed from the BMP
    * byte layout (LE int32 at offsets 18/22, bpp at 28); null for
    * payloads that don't sniff as BMP. Pure codegen'd byte arithmetic
    * — this is the decode path a production deployment keeps, with
    * codec formats added beside it.
    */
  def decodeBmp(payload: Column): Column = {
    val isBmp = substring(payload, 1, 2) === lit("BM").cast("binary")
    struct(
      when(isBmp, leUInt(payload, 19, 4)).as("width"),
      when(isBmp, leUInt(payload, 23, 4)).as("height"),
      when(isBmp, (leUInt(payload, 29, 2) / 8).cast("long")).as("channels"))
  }

  /** The corpus with a real BinaryType payload: a valid BMP header
    * (dimensions hash-derived — the testdata ships no real media)
    * followed by the text bytes as pixel data.
    */
  private[graft] def payloadFor(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text"),
      sha2(col("text"), 256).as("digest"),
      payloadCol(col("text")).as("payload"))

  /** The payload construction as a single column — shared between
    * [[payloadFor]] and st51's composed front door (which builds the
    * payload from the ARRIVING text inside one laned projection).
    */
  private[graft] def payloadCol(text: Column): Column = {
    val h = Portable.hash60(sha2(text, 256))
    val body = encode(text, "utf-8")
    concat(bmpHeader(h % 640, h % 480, h % 3 + 1,
      octet_length(body).cast("long")), body)
  }

  private def withPayload(spark: SparkSession, dir: String): DataFrame =
    payloadFor(documents(spark, dir))

  /** mm01 — binary metadata extraction: byte length, content digest,
    * leading "magic" bytes (format sniffing), and decoded dimensions
    * parsed from the payload's BMP header by [[decodeBmp]] — a real
    * byte-level decode, not a hash stub (the differential oracle
    * closes the loop: construct∘parse must equal the construction
    * values). Pure projection over the binary column; no shuffle.
    */
  val mm01_binary_meta: Q = (spark, dir) => {
    val dims = col("dims")
    withPayload(spark, dir)
      .select(col("doc_id"), col("digest"), col("payload"),
        decodeBmp(col("payload")).as("dims"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("byte_len"),
        col("digest"),
        lower(hex(substring(col("payload"), 1, 8))).as("magic"),
        dims.getField("width").as("width"),
        dims.getField("height").as("height"),
        dims.getField("channels").as("channels"))
  }

  /** mm08 — MEDIA ADMISSION GATE: the binary front door every media
    * ingest runs before decode — reject what the decoder would choke
    * on, with a machine-readable reason (the p14 corrupt-routing
    * pattern applied to payload bytes): lane 'truncated' (payload
    * shorter than the fixed header — the torn-upload case; nothing
    * past the length check is even read), 'bad_magic' (format sniff
    * fails), 'size_mismatch' (the header's declared file size
    * disagrees with the actual byte count — the classic
    * partial-write), else 'ok'. The fixture corrupts deterministic
    * doc_id cohorts (head-torn, magic-flipped, body-truncated); the
    * oracle computes every verdict from the CONSTRUCTION arithmetic
    * while this side genuinely parses the corrupted bytes — the
    * construct∘corrupt∘parse loop is the check (mm01's discipline
    * under fault injection). Checks are ORDERED so no branch reads
    * bytes a prior branch hasn't proven present. Pure projection; no
    * shuffle.
    */
  val mm08_media_gate: Q = (spark, dir) =>
    mediaGate(documents(spark, dir))

  /** [[mm08_media_gate]]'s row-local gate over any documents-shaped
    * relation — shared verbatim with the ingest twin st61.
    */
  private[graft] def mediaGate(docs: DataFrame): DataFrame = {
    val corrupted = payloadFor(docs).select(col("doc_id"),
      corruptPayload(col("doc_id"), col("payload")).as("payload"))
    val len = octet_length(col("payload")).cast("long")
    corrupted.select(col("doc_id"), len.as("byte_len"),
      mediaByteLane(col("payload")).as("lane"),
      when(len >= 54, leUInt(col("payload"), 3, 4)).as("declared_size"))
  }

  /** The mm08 fixture's deterministic payload corruption cohorts
    * (head-torn / magic-flipped / body-truncated by doc_id mod 9) as a
    * column — shared verbatim with st51's composed front door.
    */
  private[graft] def corruptPayload(docId: Column, payload: Column): Column =
    when(docId % 9 === 2, payload.substr(lit(1), lit(40)))
      .when(docId % 9 === 5,
        concat(lit("XX").cast("binary"),
          payload.substr(lit(3), octet_length(payload) - 2)))
      .when(docId % 9 === 7,
        payload.substr(lit(1), octet_length(payload) - 10))
      .otherwise(payload)

  /** mm08's ORDERED parse-based byte verdict over any payload column —
    * no branch reads bytes a prior branch hasn't proven present.
    * Shared verbatim with st51's media admission lane.
    */
  private[graft] def mediaByteLane(payload: Column): Column = {
    val len = octet_length(payload).cast("long")
    val magicOk = substring(payload, 1, 2) === lit("BM").cast("binary")
    val declared = leUInt(payload, 3, 4)
    when(len < 54, "truncated")
      .when(!magicOk, "bad_magic")
      .when(declared =!= len, "size_mismatch")
      .otherwise("ok")
  }

  private val NumFeatures = graft.functions.ByteStatsUtil.NumFeatures

  /** mm02 — pixel feature extraction over the payload: a fixed-width
    * feature vector per document computed FROM THE PAYLOAD BYTES. The
    * BMP payload's pixel region is uncompressed (bytes after the
    * 54-byte header), so real per-stride byte statistics need no codec:
    * `byte_stats` ([[graft.functions.ByteStats]], one codegen'd pass)
    * emits 4 stride means, min, max, global mean and a distinct-byte
    * entropy class, each normalized to [0, 1]. The DuckDB oracle
    * mirrors the same integer-sum-then-one-division byte math, so a
    * hash match proves the features really are functions of the pixel
    * bytes. Emitted as scalar columns f0..f7 (stable schema for the
    * differential check). Pure projection; no shuffle.
    */
  val mm02_pixel_features: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val toks = split(col("text"), " ")
    // pixel region = payload minus the 54-byte header; materialized in
    // its own projection so byte_stats runs once per row (no re-inline)
    withPayload(spark, dir)
      .select(
        col("doc_id"),
        floor(size(toks) / 4).cast("long").as("n_frames"),
        col("payload").substr(lit(55), octet_length(col("payload")) - 54).as("pixels"))
      .select(col("doc_id"), col("n_frames"),
        when(octet_length(col("pixels")) >= 4,
          call_function("byte_stats", col("pixels"))).as("fs"))
      .select(
        (col("doc_id") +: col("n_frames") +:
          (0 until NumFeatures).map(i => col("fs").getItem(i).as(s"f$i"))): _*)
  }

  /** Bytes per tile for mm09 — a fixed 64-byte block of the pixel
    * region, the 1-D stand-in for a 2-D patch (a real decoder would
    * tile width×channels strides; the plumbing — explode, slice,
    * kernel per tile — is identical).
    */
  private val TileBytes = 64

  /** mm09 — PER-TILE feature extraction: the patch/thumbnail-grid
    * primitive (ViT-style patches, CLIP preprocessing, thumbnail
    * pyramids all start exactly here): the pixel region fans out into
    * fixed 64-byte tiles via sequence/explode — per-tile work items
    * that partition freely across executors — and the codegen'd
    * [[graft.functions.ByteStats]] kernel runs once per tile slice
    * (min/max/mean/distinct-class, the same normalized byte math as
    * mm02, so the oracle recomputes every tile from the same bytes).
    * Total kernel work is the byte length once; the slice is taken
    * from a single materialized payload projection (no re-inline per
    * feature). Trailing partial tiles are dropped (fixed-shape
    * patches — the model-side contract). Shuffle-free.
    */
  val mm09_tile_features: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val body = encode(col("text"), "utf-8") // == pixel region of the payload
    documents(spark, dir)
      .select(col("doc_id"), body.as("px"),
        floor(octet_length(body) / TileBytes).cast("long").as("n_tiles"))
      .where(col("n_tiles") > 0)
      .select(col("doc_id"), col("px"),
        explode(sequence(lit(0L), col("n_tiles") - 1)).as("tile_id"))
      .select(col("doc_id"), col("tile_id"),
        call_function("byte_stats",
          col("px").substr((col("tile_id") * TileBytes + 1).cast("int"),
            lit(TileBytes))).as("fs"))
      .select(col("doc_id"), col("tile_id"),
        col("fs").getItem(4).as("t_min"),
        col("fs").getItem(5).as("t_max"),
        col("fs").getItem(6).as("t_mean"),
        col("fs").getItem(7).as("t_distinct"))
  }

  private val FrameStep = 4
  /** Bytes per frame for mm03: one "frame" is a 16-byte block of the
    * pixel region (a stand-in for a row-stride; real decoders would use
    * width × channels).
    */
  private val FrameBytes = 16

  /** mm03 — frame sampling: one row per sampled frame (every 4th
    * 16-byte block of the payload's pixel region), the explode shape a
    * video pipeline uses to fan a clip out into per-frame work items
    * that then partition freely across executors. The frame digest is
    * REAL content hashing: the md5-based [[Portable.hash60]] of the
    * frame's actual byte slice (lower-hex of pixel bytes
    * `[frame_id·16, frame_id·16+16)`), which the oracle recomputes from
    * the same bytes. The hex string is materialized in its own
    * projection stage before the explode so it is computed once per
    * document, not once per frame.
    */
  val mm03_frame_sample: Q = (spark, dir) => {
    val body = encode(col("text"), "utf-8") // == pixel region of the payload
    documents(spark, dir)
      .select(col("doc_id"), lower(hex(body)).as("hx"),
        floor(octet_length(body) / FrameBytes).cast("long").as("n_blocks"))
      .where(col("n_blocks") > 0)
      .select(col("doc_id"), col("hx"),
        explode(sequence(lit(0L), col("n_blocks") - 1, lit(FrameStep.toLong)))
          .as("frame_id"))
      .select(col("doc_id"), col("frame_id"),
        Portable.hash60(
          col("hx").substr((col("frame_id") * (2 * FrameBytes) + 1).cast("int"),
            lit(2 * FrameBytes))).as("frame_digest"))
  }

  /** A valid 44-byte PCM WAV header (RIFF + fmt + data chunks) for the
    * given audio shape — the WAV twin of [[bmpHeader]].
    */
  def wavHeader(channels: Column, sampleRate: Column, bitsPerSample: Column,
                dataLen: Column): Column = {
    val blockAlign = channels * (bitsPerSample / 8).cast("long")
    concat(
      lit("RIFF").cast("binary"),            // 0-3   RIFF magic
      leBytes(dataLen + 36, 4),              // 4-7   riff chunk size
      lit("WAVE").cast("binary"),            // 8-11  WAVE magic
      lit("fmt ").cast("binary"),            // 12-15 fmt chunk id
      leBytes(lit(16L), 4),                  // 16-19 fmt chunk size
      leBytes(lit(1L), 2),                   // 20-21 PCM
      leBytes(channels, 2),                  // 22-23 channels
      leBytes(sampleRate, 4),                // 24-27 sample rate
      leBytes(sampleRate * blockAlign, 4),   // 28-31 byte rate
      leBytes(blockAlign, 2),                // 32-33 block align
      leBytes(bitsPerSample, 2),             // 34-35 bits per sample
      lit("data").cast("binary"),            // 36-39 data chunk id
      leBytes(dataLen, 4))                   // 40-43 data length
  }

  /** REAL WAV header decode: channels/sample-rate/bits/sample-count
    * parsed from the RIFF byte layout; null for payloads that don't
    * sniff as RIFF/WAVE. Codegen'd byte arithmetic like [[decodeBmp]].
    */
  def decodeWav(payload: Column): Column = {
    val isWav = substring(payload, 1, 4) === lit("RIFF").cast("binary") &&
      substring(payload, 9, 4) === lit("WAVE").cast("binary")
    val channels = leUInt(payload, 23, 2)
    val bits = leUInt(payload, 35, 2)
    val dataLen = leUInt(payload, 41, 4)
    val blockAlign = channels * (bits / 8)
    struct(
      when(isWav, channels).as("channels"),
      when(isWav, leUInt(payload, 25, 4)).as("sample_rate"),
      when(isWav, bits).as("bits"),
      // zeroed fmt fields must yield null, not a divide-by-zero NaN
      when(isWav && blockAlign > 0, floor(dataLen / blockAlign)).as("n_samples"))
  }

  /** mm04 — audio metadata: the corpus payload carries a valid PCM WAV
    * header (shape hash-derived — no real media in testdata) over the
    * text bytes as samples; the operator parses it back out of the
    * byte layout. Differential oracle mirrors the construction, so a
    * match proves construct∘parse = identity. Shuffle-free.
    */
  val mm04_wav_meta: Q = (spark, dir) => {
    val digest = sha2(col("text"), 256)
    val h = Portable.hash60(digest)
    val body = encode(col("text"), "utf-8")
    val sampleRate = element_at(
      array(lit(8000L), lit(16000L), lit(44100L)), (h % 3 + 1).cast("int"))
    val payload = concat(
      wavHeader(h % 2 + 1, sampleRate, lit(16L), octet_length(body).cast("long")),
      body)
    val dims = col("dims")
    documents(spark, dir)
      .select(col("doc_id"), payload.as("payload"))
      .select(col("doc_id"), decodeWav(col("payload")).as("dims"))
      .select(
        col("doc_id"),
        dims.getField("channels").as("channels"),
        dims.getField("sample_rate").as("sample_rate"),
        dims.getField("bits").as("bits"),
        dims.getField("n_samples").as("n_samples"))
  }

  /** Samples per analysis frame for [[mm06_wav_features]]. */
  private val SampleFrameLen = graft.functions.Pcm16FramesUtil.FrameLen

  /** mm06 — REAL WAV SAMPLE FEATURES: per-frame amplitude statistics
    * decoded from the payload's raw 16-bit PCM sample region — the
    * signal-level features an audio curation pipeline filters on
    * (silence/clipping detection via peak+RMS, voiced-vs-noise via
    * zero-crossing rate). This closes the "header-only" corner:
    * mm04 parses the WAV's shape; this decodes the SAMPLES. The
    * sample region (bytes after the 44-byte header, length from the
    * data-chunk field at offset 40 — parsed, not assumed) is read as
    * little-endian signed int16s, framed into [[SampleFrameLen]]-
    * sample windows (trailing partial frame kept, its n_samples
    * recorded), and each frame emits exact integer stats — sum of
    * squares, peak |amplitude|, strict sign-change count — plus RMS
    * as the one derived double (sqrt of an exact integer ratio:
    * identical exact-rounded IEEE on both engines). Frames are
    * channel-agnostic over the interleaved stream (a per-channel
    * variant de-interleaves by `i % channels` in the same transform).
    *
    * Scale shape: decode + framing are per-row array transforms in one
    * projection (no shuffle anywhere); the explode fans frames out as
    * work items exactly like mm03, and the per-frame aggregates run
    * INSIDE the array (`aggregate`/`zip_with`) before the explode's
    * row multiplication, so only the final stats ride the generator —
    * never the sample arrays.
    */
  /** The corpus WAV payload (hash-derived shape over the text bytes as
    * samples) as a single column — shared by mm06/mm13 and the ingest
    * twins.
    */
  private[graft] def wavPayloadCol(text: Column): Column = {
    val h = Portable.hash60(sha2(text, 256))
    val body = encode(text, "utf-8")
    val sampleRate = element_at(
      array(lit(8000L), lit(16000L), lit(44100L)), (h % 3 + 1).cast("int"))
    concat(
      wavHeader(h % 2 + 1, sampleRate, lit(16L), octet_length(body).cast("long")),
      body)
  }

  val mm06_wav_features: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    // sample region sliced by the PARSED data-chunk length, then ONE
    // codegen'd pass computes every frame's integer stats (a per-sample
    // higher-order decode was quadratic: substr on a long string
    // re-counts chars per call)
    documents(spark, dir)
      .select(col("doc_id"), wavPayloadCol(col("text")).as("payload"))
      .select(col("doc_id"),
        call_function("pcm16_frames",
          col("payload").substr(lit(45), leUInt(col("payload"), 41, 4).cast("int")))
          .as("frames"))
      .where(col("frames").isNotNull)
      .select(col("doc_id"), explode(col("frames")).as("fr"))
      .select(col("doc_id"), col("fr.frame_id").as("frame_id"),
        col("fr.n_samples").as("n_samples"), col("fr.sum_sq").as("sum_sq"),
        col("fr.peak").as("peak"), col("fr.n_cross").as("n_cross"))
      .withColumn("rms",
        sqrt(col("sum_sq").cast("double") / col("n_samples")))
  }

  /** Near-dup Jaccard threshold for [[mm05_media_dedup]]. */
  private val MediaDupJaccard = 0.5

  /** `text` minus its last 5 whitespace tokens — the tail-crop
    * perturbation for the planted media near-copies (media framing is
    * byte-ALIGNED, so a head crop would shift every frame boundary and
    * zero the digest overlap; the tail crop models "same image, padding
    * trimmed", which byte-level framing genuinely detects).
    */
  private def dropTail5(text: Column): Column = {
    val toks = split(text, " ")
    array_join(slice(toks, lit(1), greatest(size(toks) - 5, lit(0))), " ")
  }

  /** mm05 — BINARY MEDIA DEDUP: near-dup pairs over the BMP payloads by
    * frame-digest Jaccard. The corpus plants an exact binary copy of
    * every 10th document (+1M ids) and a tail-cropped near copy of every
    * doc_id % 10 == 5 (+2M ids). Each payload's pixel region (the real
    * bytes after the 54-byte header — parsed from the payload, not the
    * text) is framed into 16-byte blocks; each block's content digest
    * ([[Portable.hash60]] of the byte slice, mm03's digest) forms the
    * document's distinct frame-digest set. Candidates = same MINIMUM
    * frame digest (the winnowing bucket — one integer key per doc, an
    * equi-join, never all-pairs); verification = exact Jaccard over the
    * digest sets ≥ 0.5. Emits (doc_a, doc_b, jaccard, is_exact); exact
    * binary copies surface with jaccard 1.0 and the flag set.
    *
    * Everything is integer arithmetic (byte slices, 60-bit digests, set
    * sizes) — no float tolerance anywhere; the final ratio is one exact
    * int/int division. Scale shape: one projection computes digests per
    * doc (codegen'd hex/substr — no shuffle), ONE shuffle on the bucket
    * key for the candidate equi-join; digest arrays (~n_bytes/16 longs)
    * ride the shuffle instead of payload bytes (16× smaller). A
    * degenerate shared min-digest (e.g. an all-zero block) is the d04
    * hot-bucket failure mode; the same df-cap escape hatch applies.
    * Byte framing is alignment-sensitive by design — codec-aware
    * perceptual hashing is the production upgrade for shift-invariant
    * matching, slotting into the same bucket-join plan.
    */
  val mm05_media_dedup: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val base = documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = base
      .unionAll(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionAll(base.where(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          dropTail5(col("text")).as("text")))
    val digest = sha2(col("text"), 256)
    val h = Portable.hash60(digest)
    val body = encode(col("text"), "utf-8")
    val payload = concat(
      bmpHeader(h % 640, h % 480, h % 3 + 1, octet_length(body).cast("long")), body)
    val fd = corpus
      .select(col("doc_id"), md5(col("text")).as("content_hash"), payload.as("payload"))
      .select(col("doc_id"), col("content_hash"),
        lower(hex(col("payload").substr(lit(55), octet_length(col("payload")) - 54)))
          .as("hx"))
      .withColumn("n_blocks", (length(col("hx")) / (2 * FrameBytes)).cast("long"))
      .where(col("n_blocks") > 0)
      // frames as hex-slice strings, then ONE codegen'd hash60_arr pass
      // (the per-frame interpreted md5/conv fold was ~4× slower); fd
      // feeds BOTH self-join sides, so it is persisted (caller clears —
      // the d02/d04 lazy contract)
      .select(col("doc_id"), col("content_hash"),
        array_distinct(Portable.hash60Array(
          transform(sequence(lit(0L), col("n_blocks") - 1), f =>
            col("hx").substr((f * (2 * FrameBytes) + 1).cast("int"),
              lit(2 * FrameBytes))))).as("fd"))
      .withColumn("bucket", array_min(col("fd")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fd.alias("a").join(fd.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.fd"), col("b.fd"))).cast("double") /
          size(array_union(col("a.fd"), col("b.fd"))).cast("double")).as("jaccard"),
        (col("a.content_hash") === col("b.content_hash")).as("is_exact"))
      .where(col("jaccard") >= MediaDupJaccard)
  }

  /** Band-bucket membership cap for [[mm07_media_phash]] — the d15
    * lesson ENFORCED from day one: an over-cap band bucket (a
    * constant-region band shared by thousands of media items — the
    * skew that would square the candidate join) is dropped whole.
    */
  private[graft] val PhashBandCap = 64

  /** mm07 — PERCEPTUAL-HASH MEDIA NEAR-DUP (block-mean hash + banded
    * hamming LSH): the similarity axis mm05's byte-aligned frame
    * digests cannot cover — a LOW-AMPLITUDE content change (one
    * corrected byte, a brightness nudge) rewrites the containing
    * 16-byte frame's digest but barely moves any block MEAN, so the
    * perceptual signature survives. The corpus plants exact binary
    * copies of every 10th item (+1M) and one-byte perturbed copies of
    * every doc_id % 10 == 5 item (+2M, first byte swapped — same
    * length, so stride boundaries hold); each payload's pixel region
    * hashes to the 64-bit block-mean signature in one codegen'd pass
    * (`blockhash64`, exact integer cross-multiplied mean compares),
    * carried as four 16-bit bands that double as the LSH keys:
    * candidates equi-join on ANY equal (band_id, band) — pigeonhole:
    * hamming < 4 ⟹ some band matches exactly, so recall at the ≤ 3
    * threshold is GUARANTEED, not probabilistic (contrast d02's
    * banded MinHash, where band equality is a random event) — and
    * verification is the exact popcount of the XORed bands.
    *
    * Scale shape: one projection computes signatures (no shuffle),
    * ONE shuffle on the band key for the candidate join with
    * over-cap band buckets dropped by a count window riding the same
    * distribution ([[PhashBandCap]]), pair dedup collapses multi-band
    * hits, and the verify is per-row integer arithmetic — 8 longs
    * ride the shuffle per doc, never payload bytes.
    */
  val mm07_media_phash: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val base = documents(spark, dir).select(col("doc_id"), col("text"))
    val perturbed = when(substring(col("text"), 1, 1) === "Q",
      concat(lit("Z"), expr("substring(text, 2)")))
      .otherwise(concat(lit("Q"), expr("substring(text, 2)")))
    val corpus = base
      .unionAll(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionAll(base.where(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 2000000L).as("doc_id"), perturbed.as("text")))
    val banded = corpus
      .select(col("doc_id"),
        call_function("blockhash64", encode(col("text"), "utf-8")).as("bands"))
      .where(col("bands").isNotNull)
      .select(col("doc_id"), col("bands"), posexplode(col("bands")))
      .select(col("doc_id"), col("bands"), col("pos").as("band_id"),
        col("col").as("band"))
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_id"), col("band"))))
      .where(col("bn") <= PhashBandCap)
      .drop("bn")
    banded.alias("a").join(banded.alias("b"),
        col("a.band_id") === col("b.band_id") && col("a.band") === col("b.band")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.bands").as("ba"), col("b.bands").as("bb"))
      .distinct()
      .withColumn("hamming", aggregate(
        zip_with(col("ba"), col("bb"),
          (x, y) => call_function("bit_count", x.bitwiseXOR(y)).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .where(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** mm10 — DIFFERENCE-HASH MEDIA NEAR-DUP (dHash + banded hamming
    * LSH): the LOCAL-EDIT axis mm07's block-mean hash cannot close.
    * Every aHash bit compares its stride to the GLOBAL mean, so one
    * localized edit (a stamped logo, a watermark strip, a partially
    * re-encoded region) moves the mean and flips bits signature-wide
    * — measured on this corpus, a 10 %-of-length +50 patch flips
    * avg 23 / max 40 of aHash's 64 bits, far past any LSH threshold.
    * dHash's bits each read two ADJACENT strides only
    * ([[graft.functions.DHash64Util]]), so the same patch flips ≤ 4
    * bits (avg 1.7) — the locally-edited copy stays inside the
    * hamming-3 pigeonhole and is FOUND here while mm07 misses it;
    * that locality is the actual multimodal dedup primitive at
    * 100 TB, where edited re-uploads dominate. (Uniform brightness
    * shifts are exactly cancelled by BOTH hashes' cross-multiplied
    * compares — `DHash64Spec` locks both the shared identity and the
    * locality separation.) The corpus plants exact copies of every
    * 10th item (+1M, the mm07 cohort, hamming 0) and LOCALLY-PATCHED
    * copies of every doc_id % 10 == 3 item (+3M: the middle tenth of
    * the bytes shifted +50 — the codec-less container's deterministic
    * stand-in for a logo stamp). Same guaranteed-recall band-LSH
    * shape as mm07 (pigeonhole: hamming < 4 ⟹ some band matches;
    * [[PhashBandCap]] enforced).
    *
    * Scale shape: mm07's — signatures in one codegen'd projection,
    * ONE band-key shuffle with over-cap buckets dropped whole, pair
    * dedup, per-row integer verify; 8 longs per doc on the wire.
    */
  /** The mm10/st75 fixture's deterministic local edit: the middle
    * tenth of the bytes shifted +50 (1-based substr arithmetic; the
    * DuckDB twins mirror it as 1-based list slices).
    */
  private[graft] def patchedBody(body: Column): Column = {
    val n = octet_length(body)
    val off = (n / 2).cast("int") // 1-based patch start = n div 2
    val len = (n / 10).cast("int") // patch covers [off, off+len)
    // The slice arithmetic assumes n ≥ 10 (off ≥ 1 and a non-empty
    // patch); shorter bodies pass through UNPATCHED rather than feeding
    // substr positions 0/negative — the guard makes the function total
    // and the DuckDB twins mirror the same CASE floor.
    when(n >= 10, concat(
      body.substr(lit(1), off - 1),
      call_function("byte_shift", body.substr(off, len), lit(50)),
      body.substr(off + len, n - off - len + 1)))
      .otherwise(body)
  }

  val mm10_media_dhash: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val base = documents(spark, dir).select(col("doc_id"),
      encode(col("text"), "utf-8").as("body"))
    val corpus = base
      .unionAll(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("body")))
      .unionAll(base.where(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          patchedBody(col("body")).as("body")))
    dhashPairs(corpus)
  }

  /** mm10's banded-LSH hamming self-join over any (doc_id, body)
    * corpus — shared with the c10 media-admission capstone (which
    * runs it over the base corpus only): signatures in one codegen'd
    * projection, over-cap band buckets dropped whole, pair dedup,
    * exact popcount verify at hamming ≤ 3.
    */
  private[graft] def dhashPairs(corpus: DataFrame): DataFrame = {
    val banded = corpus
      .select(col("doc_id"), call_function("dhash64", col("body")).as("bands"))
      .where(col("bands").isNotNull)
      .select(col("doc_id"), col("bands"), posexplode(col("bands")))
      .select(col("doc_id"), col("bands"), col("pos").as("band_id"),
        col("col").as("band"))
      .withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_id"), col("band"))))
      .where(col("bn") <= PhashBandCap)
      .drop("bn")
    banded.alias("a").join(banded.alias("b"),
        col("a.band_id") === col("b.band_id") && col("a.band") === col("b.band")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.bands").as("ba"), col("b.bands").as("bb"))
      .distinct()
      .withColumn("hamming", aggregate(
        zip_with(col("ba"), col("bb"),
          (x, y) => call_function("bit_count", x.bitwiseXOR(y)).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .where(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Peak-|amplitude| threshold splitting [[mm11_audio_segments]]'s
    * loud/quiet frames — sits inside the int16 range the text-derived
    * samples actually span, so BOTH classes occur and runs alternate.
    */
  private val LoudPeak = 29000L

  /** mm11 — AUDIO SEGMENTATION BY ENERGY RUNS: mm06's per-frame
    * amplitude stats chained into maximal runs of CONSECUTIVE frames
    * on the same side of the [[LoudPeak]] peak threshold — the
    * silence/voiced segmenter an audio curation pipeline uses to trim
    * leading/trailing quiet, split on pauses, and price "how much of
    * this clip is signal" (here: loud/quiet over the synthetic PCM —
    * a real VAD swaps the threshold expression, not the plan). Runs
    * form by the w15 island key scoped PER (doc, class): frame_id −
    * row_number is constant exactly on consecutive frames of one
    * class; a class flip breaks both runs. Each segment emits its
    * frame span, length and exact integer energy sum.
    *
    * Scale shape: mm06's shuffle-free decode feeds a window
    * PARTITIONED by (doc_id, loud) — per-doc frame counts bound every
    * partition (clip length, not corpus size) — then one
    * (doc, class, run) rollup. No unpartitioned window anywhere.
    */
  val mm11_audio_segments: Q = (spark, dir) => {
    val fr = mm06_wav_features(spark, dir)
      .select(col("doc_id"), col("frame_id"), col("sum_sq"),
        (col("peak") >= LoudPeak).as("loud"))
    val w = Window.partitionBy(col("doc_id"), col("loud"))
      .orderBy(col("frame_id"))
    fr.withColumn("grp", col("frame_id") - row_number().over(w))
      .groupBy(col("doc_id"), col("loud"), col("grp"))
      .agg(min(col("frame_id")).as("start_frame"),
        max(col("frame_id")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("sum_sq")).as("seg_energy"))
      .drop("grp")
  }

  /** mm13's constellation geometry: the landmark series is the peak
    * |amplitude| per [[graft.functions.Pcm16FramesUtil.PeakWin]]-sample
    * window (the dense series — analysis FRAMES give a corpus doc only
    * 2-5 points); each window's peak pairs with its next [[FpFanout]]
    * windows' into packed hashes; the query clip is windows
    * [[[ClipStart]], [[ClipStart]]+[[ClipLen]]) of every mod-17 ≡ 5
    * document; corpus hash keys held by more than [[FpDfCap]] pair
    * rows are dropped whole (too common to be discriminative — the
    * d02 df-cap on landmarks); a match needs [[FpMinAligned]]
    * co-aligned hashes.
    */
  private[graft] val FpFanout = 3
  private[graft] val FpDfCap = 64
  private[graft] val ClipStart = 4
  private[graft] val ClipLen = 16
  private[graft] val FpMinAligned = 4

  /** All (anchor frame f, packed hash) landmark pairs of a peaks
    * array, computed ROW-LOCALLY inside the array (mm06's
    * inside-the-array discipline — no per-doc window, no shuffle
    * before the explode): hash = peak_a·2¹⁷ + peak_b·4 + d for target
    * distance d ∈ [1, FpFanout] (peaks < 2¹⁵ ⇒ the packing is
    * injective and < 2³², long-safe).
    */
  private[graft] def peakPairs(peaks: Column): Column =
    call_function("peak_pairs", peaks, lit(FpFanout))

  /** mm13 — AUDIO CONSTELLATION FINGERPRINT MATCH (the Shazam shape:
    * Wang 2003, "An Industrial-Strength Audio Search Algorithm"):
    * per-window peak landmarks pair with their next few windows into
    * packed (peak_a, peak_b, Δwindow) hashes; a 16-window QUERY CLIP cut
    * from the middle of every 17th document probes the corpus hash
    * index by ONE equi-join, and the offset histogram — count per
    * (clip, doc, corpus_frame − clip_frame) — is the verdict: a true
    * match piles its hits on ONE offset (the clip's cut point), while
    * collision noise scatters. Emits per (clip, candidate doc) the
    * best-aligned offset, its aligned count and the total hit count,
    * thresholded at [[FpMinAligned]]; the positive control is each
    * clip finding its own source at offset [[ClipStart]]. All integer
    * arithmetic end-to-end.
    *
    * Scale shape: pair generation rides the scan inside the frames
    * array (no pre-explode shuffle); the df-cap drops degenerate
    * landmark keys so the probe join's fan-out is bounded
    * (≤ FpDfCap per key — the d02/d04 hot-bucket discipline); the
    * histogram is one (clip, doc, offset) rollup with map-side
    * partials. At 100 TB the corpus landmark table is the standing
    * index artifact; clips probe it — exactly this plan's join side.
    */
  /** The per-doc window-peak series over any documents-shaped relation
    * — the landmark raw material (stateless projection; the ingest
    * twin st89 runs it on the firehose verbatim).
    */
  private[graft] def peakSeries(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), wavPayloadCol(col("text")).as("payload"))
    .select(col("doc_id"),
      call_function("pcm16_peaks",
        col("payload").substr(lit(45), leUInt(col("payload"), 41, 4).cast("int")))
        .as("peaks"))
    .where(col("peaks").isNotNull)

  /** The corpus landmark-hash index (df-capped) — mm13's join side and
    * the STANDING artifact st89's ingest probe joins against.
    */
  private[graft] def fingerprintIndex(spark: SparkSession, dir: String): DataFrame =
    peakSeries(documents(spark, dir))
      .select(col("doc_id"), explode(peakPairs(col("peaks"))).as("p"))
      .select(col("doc_id"), col("p.f").as("f"), col("p.hkey").as("hkey"))
      .withColumn("dfc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("hkey"))))
      .where(col("dfc") <= FpDfCap)
      .drop("dfc")

  /** A clip-owner relation's landmark pairs, clipped to the query
    * window — shared by mm13's batch probe and st89's ingest probe.
    */
  private[graft] def clipPairs(series: DataFrame): DataFrame = series
    .select((col("doc_id") + 5000000L).as("clip_id"),
      explode(peakPairs(slice(col("peaks"), ClipStart + 1, ClipLen))).as("p"))
    .select(col("clip_id"), col("p.f").as("q"), col("p.hkey").as("hkey"))

  /** The offset-histogram verdict tail over a served (clip_id, doc_id,
    * off, n_aligned) relation — (n_aligned desc, offset) argmax, total
    * hits, [[FpMinAligned]] threshold. Shared verbatim with st89's
    * judge-on-read.
    */
  private[graft] def fingerprintVerdict(counts: DataFrame): DataFrame = {
    val tot = counts.groupBy(col("clip_id"), col("doc_id"))
      .agg(sum(col("n_aligned")).as("n_hits"))
    counts.groupBy(col("clip_id"), col("doc_id"))
      .agg(max(struct(col("n_aligned"), (-col("off")).as("no"))).as("m"))
      .select(col("clip_id"), col("doc_id"),
        (-col("m.no")).as("best_offset"), col("m.n_aligned").as("n_aligned"))
      .join(tot, Seq("clip_id", "doc_id"))
      .where(col("n_aligned") >= FpMinAligned)
  }

  val mm13_audio_fingerprint: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    // the decode pass feeds both the index and the clip legs — persist
    // so the payload construction + sample decode runs once (caller
    // clears cache — the d02/d04 contract)
    val series = peakSeries(documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corp = series
      .select(col("doc_id"), explode(peakPairs(col("peaks"))).as("p"))
      .select(col("doc_id"), col("p.f").as("f"), col("p.hkey").as("hkey"))
      .withColumn("dfc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("hkey"))))
      .where(col("dfc") <= FpDfCap)
      .drop("dfc")
    val hits = clipPairs(series.where(col("doc_id") % 17 === 5))
      .join(corp, Seq("hkey"))
      .select(col("clip_id"), col("doc_id"), (col("f") - col("q")).as("off"))
    fingerprintVerdict(
      hits.groupBy(col("clip_id"), col("doc_id"), col("off"))
        .agg(count(lit(1)).as("n_aligned")))
  }

  /** mm06's DuckDB frame-stat CTE chain (hex decode → LE-int16 samples
    * → frames → exact integer stats, ending in relation `st`) —
    * factored so mm11's segmentation oracle chains it verbatim.
    */
  private lazy val duckWavFrameCtes: String = {
    val F = SampleFrameLen
    s"""b AS (SELECT doc_id, lower(hex(encode(text))) AS hx
              FROM documents),
          s AS (SELECT doc_id,
                  list_transform(range(0, length(hx) // 4), i ->
                    CASE WHEN ('0x' || substr(hx, (4*i+3)::INT, 2)
                                     || substr(hx, (4*i+1)::INT, 2))::BIGINT >= 32768
                         THEN ('0x' || substr(hx, (4*i+3)::INT, 2)
                                     || substr(hx, (4*i+1)::INT, 2))::BIGINT - 65536
                         ELSE ('0x' || substr(hx, (4*i+3)::INT, 2)
                                     || substr(hx, (4*i+1)::INT, 2))::BIGINT END)
                    AS samples
                FROM b),
          f AS (SELECT doc_id,
                       unnest(range(0, (len(samples) + ${F - 1}) // $F)) AS frame_id,
                       samples
                FROM s WHERE len(samples) > 0),
          fr AS (SELECT doc_id, frame_id,
                        samples[(frame_id*$F+1)::INT :
                                least((frame_id+1)*$F, len(samples))::INT] AS fr
                 FROM f),
          st AS (SELECT doc_id, frame_id,
                        CAST(len(fr) AS BIGINT) AS n_samples,
                        CAST(list_aggregate(list_transform(fr, x -> x*x), 'sum')
                             AS BIGINT) AS sum_sq,
                        CAST(list_aggregate(list_transform(fr, x -> abs(x)), 'max')
                             AS BIGINT) AS peak,
                        CAST(coalesce(list_aggregate(
                               list_transform(range(0, len(fr) - 1), i ->
                                 CASE WHEN fr[(i+1)::INT] * fr[(i+2)::INT] < 0
                                      THEN 1 ELSE 0 END), 'sum'), 0)
                             AS BIGINT) AS n_cross
                 FROM fr)"""
  }

  /** Per-(doc, bin) counts of one body column via the codegen'd
    * [[graft.functions.NibbleHist]] kernel (r18, guide §4): one binary
    * pass per row, then a ≤16-row posexplode per document — the prior
    * formulation (test-scope `Builtins.binCountsBuiltin`, the
    * `MultimodalSpec` parity anchor) paid a
    * two-char substr + radix parse + string→long cast PER BYTE through
    * a hex round-trip and shipped one exploded row per byte into the
    * aggregation. Zero-count bins are absent from both formulations
    * (the old groupBy never saw them), so the relation is identical;
    * `MultimodalSpec` locks the parity on a fixture corpus.
    */
  private[graft] def binCounts(df: DataFrame, body: String, as: String): DataFrame = {
    // self-sufficient registration: streaming twins (st101) call this
    // from sessions that never ran a batch mm query first
    graft.plans.GraftExtensions.register(df.sparkSession)
    df.select(col("doc_id"),
        posexplode(call_function("nibble_hist", col(body)))
          .as(Seq("bin0", as)))
      .where(col(as) > 0)
      .select(col("doc_id"), col("bin0").cast("long").as("bin"), col(as))
  }

  /** mm12 — BYTE-HISTOGRAM χ² DISTANCE over the planted media copies:
    * for every (original, planted copy) pair — the exact-copy cohort
    * (+1M, %10=0) and the locally-patched cohort (+3M, %10=3, middle
    * tenth shifted +50) — the χ² distance between their 16-bin byte
    * histograms in exact micro-units (per-bin integer
    * cross-multiplied divide, then an integer sum — deterministic
    * under any order). The DISTRIBUTIONAL distance complements
    * mm10's positional dHash: a heavy local edit moves few dHash
    * bits (adjacent-stride reads) but shifts mass between histogram
    * bins, so the two metrics disagree exactly when an edit is
    * local-but-large — the triage signal c10-style admission wants.
    * Exact copies measure 0 by construction; the patched cohort
    * measures > 0 — both paths execute and hash-check.
    *
    * Scale shape: both bodies derive from the base row (planted
    * copies are computed, not joined); each body decodes ONCE through
    * an explode into (doc, bin) counts that combine map-side, then
    * two doc/bin-keyed joins and a doc rollup — ≤16 rows per doc past
    * the first aggregation. (The row-local formulation was rejected:
    * CollapseProject re-inlines the decode into every per-bin lambda,
    * 16×-ing the dominant cost — see `Builtins.binCountsBuiltin`.)
    */
  val mm12_hist_distance: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val base = documents(spark, dir)
      .where(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 3)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("body"))
      .withColumn("cbody",
        when(col("doc_id") % 10 === 3, patchedBody(col("body")))
          .otherwise(col("body")))
    val meta = base.select(col("doc_id"),
      (col("doc_id") + when(col("doc_id") % 10 === 3, 3000000L)
        .otherwise(1000000L)).as("copy_id"),
      when(col("doc_id") % 10 === 3, "patched").otherwise("exact")
        .as("pair_type"),
      octet_length(col("body")).cast("long").as("n_bytes"))
    val perBin = binCounts(base, "body", "ca")
      .join(binCounts(base, "cbody", "cb"), Seq("doc_id", "bin"), "full")
      .select(col("doc_id"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .select(col("doc_id"),
        expr("((ca - cb) * (ca - cb) * 1000000) div (ca + cb)").as("term"))
      .groupBy(col("doc_id")).agg(sum(col("term")).as("chi2_micro"))
    meta.join(perBin, Seq("doc_id"))
      .select(col("doc_id"), col("copy_id"), col("pair_type"),
        col("n_bytes"), col("chi2_micro"))
  }

  /** The DuckDB twin of [[patchedBody]]: the middle-tenth +50 patch as
    * 1-based list slices, with the same n ≥ 10 floor (shorter bodies
    * pass through unpatched).
    */
  private def duckPatchedBytes: String =
    """CASE WHEN len(bytes) >= 10 THEN
         bytes[1 : (len(bytes)//2 - 1)::INT]
           || list_transform(
                bytes[(len(bytes)//2)::INT :
                      (len(bytes)//2 + len(bytes)//10 - 1)::INT],
                b -> (b + 50) % 256)
           || bytes[(len(bytes)//2 + len(bytes)//10)::INT :
                    len(bytes)::INT]
       ELSE bytes END"""

  private def duckHistDistanceSql: String =
    s"""WITH $duckDhashBytesCte,
        pairs AS (
          SELECT doc_id, doc_id + 1000000 AS copy_id, 'exact' AS pair_type,
                 bytes, bytes AS cbytes
          FROM by WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id, doc_id + 3000000, 'patched', bytes,
                 $duckPatchedBytes
          FROM by WHERE doc_id % 10 = 3),
        h AS (SELECT doc_id, copy_id, pair_type,
                     CAST(len(bytes) AS BIGINT) AS n_bytes,
                     list_transform(range(0, 16), bin ->
                       CAST(len(list_filter(bytes, x -> x // 16 = bin))
                            AS BIGINT)) AS ha,
                     list_transform(range(0, 16), bin ->
                       CAST(len(list_filter(cbytes, x -> x // 16 = bin))
                            AS BIGINT)) AS hb
              FROM pairs)
        SELECT doc_id, copy_id, pair_type, n_bytes,
               CAST(list_sum(list_transform(list_zip(ha, hb), t ->
                      CASE WHEN t[1] + t[2] = 0 THEN 0
                           ELSE ((t[1] - t[2]) * (t[1] - t[2]) * 1000000)
                                // (t[1] + t[2]) END)) AS BIGINT)
                 AS chi2_micro
        FROM h"""

  /** mm14 — PAYLOAD BYTE-ENTROPY GATE (the compressed/encrypted-blob
    * detector): Shannon entropy of each payload's 16-bin byte
    * histogram in milli-nats, with the opaque/structured verdict —
    * text-like payloads concentrate in few nibble classes while
    * compressed or encrypted bytes are near-uniform (ln 16 ≈ 2.773
    * nats). Measured at sf0.01 the [[EntropyOpaqueMn]] cut splits
    * structured (max 2597 mn — long uniform-ish docs approach it;
    * 16 nibble bins are a coarse feature) from planted opaque (min
    * 2603 mn); production would widen the margin with 256-value bins
    * at 16× histogram state. The verdict arithmetic is identical on
    * both engines, so the differential is exact wherever the cut
    * falls. A curation front door uses this lane to
    * route blobs that LOOK like media but carry no parseable header
    * (mm08's gate) into the opaque lane instead of the corrupt lane.
    * Both verdicts execute on the fixture: real documents are
    * structured; a planted cohort (+5M, doc_id % 10 = 4) carries 64
    * deterministic md5-chain bytes — the high-entropy stand-in for a
    * compressed payload (this container ships no codecs; the
    * construction is the mm05/mm12 planted-bytes discipline).
    *
    * Arithmetic: t37's entropy discipline over byte bins — per-VALUE
    * `⌊ln(k)·1000⌋` quantize of the two integer logs, then pure
    * integer cross-multiplied sums and one integral division; the
    * only floats are `ln` of identical integers on both engines.
    *
    * Scale shape: histogram via one (doc, bin) explode-aggregate
    * (mm12's CollapseProject-proof shape), one join to per-doc
    * totals, no shuffle beyond the doc-grain groupBys.
    */
  /** mm15 — RESOLUTION / ASPECT ADMISSION GATE: the dimension gate a
    * multimodal curation pass runs right after the byte-level door
    * (mm08 rejects what the decoder would choke on; this rejects what
    * the TRAINER shouldn't see): parse width/height from the payload
    * header with the REAL [[decodeBmp]] byte decode, then route
    * through ordered lanes — 'degenerate' (a zero dimension: the
    * aspect ratio is undefined and every downstream resize divides by
    * it), 'too_small' (min side under 32 px — below any patch size),
    * 'extreme_aspect' (beyond 3:1 either way — the banner/sliver
    * class that crops to noise), else 'ok' — the standard
    * resolution/aspect filters of public image-text corpus builds
    * (LAION-style), with the c03 first-reject lane convention. The
    * aspect ratio is exact integer per-mille (`w·1000 div h`), NULL
    * exactly when height=0 (a width=0/height>0 row is degenerate with
    * aspect_pm=0 — both engines agree on that value).
    *
    * The oracle mirrors the CONSTRUCTION (hash-derived dims, mm01's
    * discipline) while Spark genuinely parses the bytes — the
    * differential proves construct∘parse∘gate = gate∘construct.
    * Row-local projection, zero exchanges; st106 runs it at ingest.
    */
  val mm15_resolution_gate: Q = (spark, dir) =>
    resolutionGateOf(documents(spark, dir).select(col("doc_id"), col("text")))

  /** mm15's whole computation over any (doc_id, text) relation —
    * payload synthesis, header parse and lane verdict are row-local
    * at the document grain, so st106 runs it batch-locally at ingest
    * with zero cross-batch state (the payloadEntropyOf precedent).
    */
  private[graft] def resolutionGateOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), payloadCol(col("text")).as("payload"))
      .select(col("doc_id"), decodeBmp(col("payload")).as("dims"))
      .select(col("doc_id"),
        col("dims").getField("width").as("width"),
        col("dims").getField("height").as("height"))
      .select(col("doc_id"), col("width"), col("height"),
        when(col("height") > 0, expr("width * 1000 div height"))
          .as("aspect_pm"),
        (col("width") * col("height")).as("n_pixels"),
        when(col("width") === 0 || col("height") === 0, "degenerate")
          .when(least(col("width"), col("height")) < 32, "too_small")
          .when(col("width") * lit(1000L) > col("height") * lit(3000L) ||
            col("height") * lit(1000L) > col("width") * lit(3000L),
            "extreme_aspect")
          .otherwise("ok").as("lane"))

  val mm14_payload_entropy: Q = (spark, dir) =>
    payloadEntropyOf(documents(spark, dir).select(col("doc_id"), col("text")))

  /** mm14's whole computation over any (doc_id, text) relation — the
    * histogram and verdict are row-local at the document grain (the
    * entropyOf precedent), so st101 runs it batch-locally at ingest
    * with zero cross-batch state. The planted opaque cohort derives
    * row-locally from the same relation.
    */
  private[graft] def payloadEntropyOf(docs: DataFrame): DataFrame = {
    val real = docs
      .select(col("doc_id"), encode(col("text"), "utf-8").as("body"))
    val opaque = docs.where(col("doc_id") % 10 === 4)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        unhex(concat(md5(col("text")),
          md5(concat(col("text"), lit("x"))),
          md5(concat(col("text"), lit("y"))),
          md5(concat(col("text"), lit("z"))))).as("body"))
    val counts = binCounts(real.unionAll(opaque), "body", "c")
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_bins"))
    counts.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("n"), col("n_bins"),
        (col("c") *
          (floor(log(col("n").cast("double")) * 1000).cast("long") -
            floor(log(col("c").cast("double")) * 1000).cast("long"))).as("t"))
      .groupBy(col("doc_id"), col("n"), col("n_bins"))
      .agg(sum(col("t")).as("tsum"))
      .select(col("doc_id"), col("n").as("n_bytes"), col("n_bins"),
        expr("tsum div n").as("ent_mn"),
        (expr("tsum div n") >= EntropyOpaqueMn).as("is_opaque"))
  }

  /** Opaque-verdict cut in milli-nats: uniform 16 bins = ln 16 ≈ 2773;
    * the fixture's text payloads measure far below (few nibble
    * classes dominate). */
  private val EntropyOpaqueMn = 2600L

  private def duckPayloadEntropySql: String =
    s"""WITH $duckDhashBytesCte,
        op AS (SELECT doc_id + 5000000 AS doc_id,
                      md5(text) || md5(text || 'x') || md5(text || 'y')
                        || md5(text || 'z') AS hx
               FROM documents WHERE doc_id % 10 = 4),
        opb AS (SELECT doc_id,
                       list_transform(range(0, 64), i ->
                         ('0x' || substr(hx, (2*i + 1)::INT, 2))::BIGINT)
                         AS bytes
                FROM op),
        allb AS (SELECT doc_id, bytes FROM by
                 UNION ALL SELECT doc_id, bytes FROM opb),
        bc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
               FROM (SELECT doc_id, unnest(list_transform(bytes,
                       x -> x // 16)) AS b FROM allb)
               GROUP BY 1, 2),
        tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                       CAST(COUNT(*) AS BIGINT) AS n_bins
                FROM bc GROUP BY 1),
        tm AS (SELECT bc.doc_id, n, n_bins,
                      c * (CAST(floor(ln(n) * 1000) AS BIGINT)
                         - CAST(floor(ln(c) * 1000) AS BIGINT)) AS t
               FROM bc JOIN tot USING (doc_id))
        SELECT doc_id, n AS n_bytes, n_bins,
               CAST(SUM(t) // n AS BIGINT) AS ent_mn,
               CAST(SUM(t) // n AS BIGINT) >= $EntropyOpaqueMn AS is_opaque
        FROM tm GROUP BY doc_id, n, n_bins"""

  val queries: Map[String, Q] = Map(
    "mm14_payload_entropy" -> mm14_payload_entropy,
    "mm15_resolution_gate" -> mm15_resolution_gate,
    "mm13_audio_fingerprint" -> mm13_audio_fingerprint,
    "mm10_media_dhash" -> mm10_media_dhash,
    "mm11_audio_segments" -> mm11_audio_segments,
    "mm12_hist_distance" -> mm12_hist_distance,
    "mm01_binary_meta" -> mm01_binary_meta,
    "mm05_media_dedup" -> mm05_media_dedup,
    "mm02_pixel_features" -> mm02_pixel_features,
    "mm09_tile_features" -> mm09_tile_features,
    "mm03_frame_sample" -> mm03_frame_sample,
    "mm04_wav_meta" -> mm04_wav_meta,
    "mm06_wav_features" -> mm06_wav_features,
    "mm07_media_phash" -> mm07_media_phash,
    "mm08_media_gate" -> mm08_media_gate,
  )

  private def duckMediaDedupSql: String = {
    val fh = Portable.duckHash60(s"substr(hx, f * ${2 * FrameBytes} + 1, ${2 * FrameBytes})")
    s"""WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + 2000000,
                 array_to_string(string_split(text, ' ')
                   [:greatest(len(string_split(text, ' ')) - 5, 0)], ' ')
          FROM documents WHERE doc_id % 10 = 5),
        hxx AS (SELECT doc_id, md5(text) AS content_hash,
                       lower(hex(encode(text))) AS hx,
                       octet_length(encode(text)) // $FrameBytes AS n_blocks
                FROM corpus),
        fd AS (SELECT doc_id, content_hash,
                      list_distinct(list_transform(range(0, n_blocks), f -> $fh)) AS fd
               FROM hxx WHERE n_blocks > 0),
        fb AS (SELECT doc_id, content_hash, fd, list_min(fd) AS bucket FROM fd)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.fd, b.fd)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(a.fd, b.fd))) AS DOUBLE) AS jaccard,
               a.content_hash = b.content_hash AS is_exact
        FROM fb a JOIN fb b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.fd, b.fd)) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(a.fd, b.fd))) AS DOUBLE)
              >= $MediaDupJaccard"""
  }

  /** UTF-8 bytes of `text` as a BIGINT list — the raw material every
    * byte-level oracle shares (dHash strides, st51's media-dup probe).
    */
  private[graft] val duckBytesExpr: String =
    """list_transform(range(0, octet_length(encode(text))),
         i -> ('0x' || substr(hex(encode(text)), (2*i + 1)::INT, 2))::BIGINT)"""

  /** The per-doc bytes CTE (`by`) every dHash oracle starts from. */
  private[graft] val duckDhashBytesCte: String =
    s"""by AS (SELECT doc_id, $duckBytesExpr AS bytes FROM documents)"""

  /** The shared dHash bit arithmetic as chainable CTE text — expects a
    * preceding CTE named `corpus(doc_id, bytes)` and ends with
    * `bits(doc_id, band_id, band)` and `sig(doc_id, bands)`: same
    * 65-stride mapping as the Spark expression (stride of byte i =
    * i·65 div n; stride s spans [ceil(s·n/65), ceil((s+1)·n/65))),
    * same exact integer cross-multiplied ADJACENT-stride compares.
    */
  private[graft] val duckDhashBitsCtes: String =
    """st AS (SELECT doc_id, bytes, len(bytes) AS n
             FROM corpus WHERE len(bytes) >= 65),
       ssum AS (SELECT doc_id, n, s,
                       CAST(coalesce(list_aggregate(
                         bytes[((s*n + 64)//65 + 1)::INT :
                               (((s+1)*n + 64)//65)::INT], 'sum'), 0) AS BIGINT)
                         AS sum_s,
                       ((s+1)*n + 64)//65 - (s*n + 64)//65 AS len_s
                FROM (SELECT doc_id, bytes, n,
                             unnest(range(0, 65)) AS s
                      FROM st)),
       adj AS (SELECT a.doc_id, a.s,
                      a.sum_s AS sa, a.len_s AS la,
                      b.sum_s AS sb, b.len_s AS lb
               FROM ssum a JOIN ssum b
                 ON a.doc_id = b.doc_id AND b.s = a.s + 1
               WHERE a.s < 64),
       bits AS (SELECT doc_id, s // 16 AS band_id,
                       CAST(SUM(CASE WHEN sa * lb > sb * la
                                     THEN (1::BIGINT << (s % 16)::INT)
                                     ELSE 0 END) AS BIGINT) AS band
                FROM adj GROUP BY 1, 2),
       sig AS (SELECT doc_id, list(band ORDER BY band_id) AS bands
               FROM bits GROUP BY 1)"""

  /** st75's oracle: the mm10 stride/bit arithmetic with the corpus
    * split into standing (base docs) and delta (the re-uploaded
    * cohorts), the band cap applied to the STANDING side only (the
    * probe's governance: delta rows probe, they don't join each
    * other), and only (standing, delta) pairs emitted.
    */
  private[graft] def duckDhashProbeSql: String =
    s"""WITH $duckDhashBytesCte,
        corpus AS (
          SELECT doc_id, bytes FROM by
          UNION ALL
          SELECT doc_id + 1000000, bytes FROM by WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + 3000000,
                 $duckPatchedBytes
          FROM by WHERE doc_id % 10 = 3),
        $duckDhashBitsCtes,
        stand AS (SELECT doc_id, band_id, band FROM bits
                  WHERE doc_id < 1000000
                  QUALIFY COUNT(*) OVER (PARTITION BY band_id, band)
                            <= $PhashBandCap),
        delta AS (SELECT doc_id, band_id, band FROM bits
                  WHERE doc_id >= 1000000),
        cand AS (SELECT DISTINCT s.doc_id AS doc_a, d.doc_id AS doc_b
                 FROM stand s JOIN delta d
                 ON s.band_id = d.band_id AND s.band = d.band)
        SELECT doc_a, doc_b, hamming FROM (
          SELECT c.doc_a, c.doc_b,
                 CAST(list_sum(list_transform(list_zip(sa.bands, sb.bands),
                        t -> bit_count(xor(t[1], t[2])))) AS BIGINT) AS hamming
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.doc_a
          JOIN sig sb ON sb.doc_id = c.doc_b)
        WHERE hamming <= 3"""

  val oracles: Map[String, String] = Map(
    // mm13: same 8-sample-window peak series (pcm16_peaks' arithmetic
    // over mm06's decoded sample list), same packed landmark hashes
    // via the window-distance join (≡ the array formulation — window
    // ids are contiguous), same df-cap, same offset histogram and
    // (n_aligned desc, offset) argmax
    "mm14_payload_entropy" -> duckPayloadEntropySql,
    "mm15_resolution_gate" -> {
      // mirrors the CONSTRUCTION (hash-derived dims); Spark parses
      // the real bytes, so a match proves gate∘parse = gate∘construct
      val h = Portable.duckHash60("sha256(text)")
      s"""WITH d AS (SELECT doc_id, ($h) % 640 AS w, ($h) % 480 AS hh
                     FROM documents)
          SELECT doc_id, w AS width, hh AS height,
                 CAST(CASE WHEN hh > 0 THEN w * 1000 // hh END AS BIGINT)
                   AS aspect_pm,
                 w * hh AS n_pixels,
                 CASE WHEN w = 0 OR hh = 0 THEN 'degenerate'
                      WHEN least(w, hh) < 32 THEN 'too_small'
                      WHEN w * 1000 > hh * 3000 OR hh * 1000 > w * 3000
                        THEN 'extreme_aspect'
                      ELSE 'ok' END AS lane
          FROM d"""
    },
    "mm13_audio_fingerprint" -> {
      val W = graft.functions.Pcm16FramesUtil.PeakWin
      s"""WITH $duckWavFrameCtes,
          pw AS (SELECT doc_id,
                        list_transform(range(0, (len(samples) + ${W - 1}) // $W),
                          w -> CAST(list_aggregate(list_transform(
                                 samples[(w*$W+1)::INT :
                                         least((w+1)*$W, len(samples))::INT],
                                 x -> abs(x)), 'max') AS BIGINT)) AS peaks
                 FROM s WHERE len(samples) > 0),
          pk AS (SELECT doc_id, frame_id,
                        peaks[(frame_id+1)::INT] AS peak
                 FROM (SELECT doc_id, peaks,
                              unnest(range(0, len(peaks))) AS frame_id
                       FROM pw)),
          cp AS (SELECT a.doc_id, a.frame_id AS f,
                        a.peak * 131072 + b.peak * 4
                          + (b.frame_id - a.frame_id) AS hkey
                 FROM pk a JOIN pk b ON a.doc_id = b.doc_id
                   AND b.frame_id - a.frame_id BETWEEN 1 AND $FpFanout),
          corp AS (SELECT doc_id, f, hkey FROM (
                     SELECT doc_id, f, hkey,
                            COUNT(*) OVER (PARTITION BY hkey) AS dfc
                     FROM cp)
                   WHERE dfc <= $FpDfCap),
          cl AS (SELECT doc_id, frame_id, peak FROM pk
                 WHERE doc_id % 17 = 5
                   AND frame_id BETWEEN $ClipStart
                                AND ${ClipStart + ClipLen - 1}),
          cpq AS (SELECT a.doc_id + 5000000 AS clip_id,
                         a.frame_id - $ClipStart AS q,
                         a.peak * 131072 + b.peak * 4
                           + (b.frame_id - a.frame_id) AS hkey
                  FROM cl a JOIN cl b ON a.doc_id = b.doc_id
                    AND b.frame_id - a.frame_id BETWEEN 1 AND $FpFanout),
          hits AS (SELECT c.clip_id, k.doc_id, k.f - c.q AS off
                   FROM cpq c JOIN corp k USING (hkey)),
          tot AS (SELECT clip_id, doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
                  FROM hits GROUP BY 1, 2),
          hist AS (SELECT clip_id, doc_id, off,
                          CAST(COUNT(*) AS BIGINT) AS n_aligned
                   FROM hits GROUP BY 1, 2, 3),
          best AS (SELECT clip_id, doc_id, off AS best_offset, n_aligned
                   FROM hist
                   QUALIFY row_number() OVER (PARTITION BY clip_id, doc_id
                             ORDER BY n_aligned DESC, off) = 1)
          SELECT b.clip_id, b.doc_id, b.best_offset, b.n_aligned, t.n_hits
          FROM best b JOIN tot t USING (clip_id, doc_id)
          WHERE b.n_aligned >= $FpMinAligned"""
    },
    // mm12: same planted-pair derivation, same per-bin integer chi2
    "mm12_hist_distance" -> duckHistDistanceSql,
    "mm05_media_dedup" -> duckMediaDedupSql,
    "mm10_media_dhash" -> {
      // same 65-stride mapping (stride of byte i = i*65 div n; stride s
      // spans [ceil(s*n/65), ceil((s+1)*n/65))), same exact integer
      // cross-multiplied ADJACENT-stride compare, same band cap and
      // pigeonhole candidate join; the middle-tenth +50 patch applied
      // as 1-based list slices mirroring the substr arithmetic
      s"""WITH $duckDhashBytesCte,
          corpus AS (
            SELECT doc_id, bytes FROM by
            UNION ALL
            SELECT doc_id + 1000000, bytes FROM by WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 3000000,
                   $duckPatchedBytes
            FROM by WHERE doc_id % 10 = 3),
          $duckDhashBitsCtes,
          capped AS (SELECT doc_id, band_id, band FROM bits
                     QUALIFY COUNT(*) OVER (PARTITION BY band_id, band)
                               <= $PhashBandCap),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM capped a JOIN capped b
                   ON a.band_id = b.band_id AND a.band = b.band
                      AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, hamming FROM (
            SELECT c.doc_a, c.doc_b,
                   CAST(list_sum(list_transform(list_zip(sa.bands, sb.bands),
                          t -> bit_count(xor(t[1], t[2])))) AS BIGINT) AS hamming
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b)
          WHERE hamming <= 3"""
    },
    "mm08_media_gate" ->
      // every verdict from the CONSTRUCTION arithmetic; the Spark side
      // parses the corrupted bytes (construct∘corrupt∘parse = identity)
      """SELECT doc_id,
                CAST(CASE WHEN doc_id % 9 = 2 THEN 40
                          WHEN doc_id % 9 = 7
                            THEN 54 + octet_length(encode(text)) - 10
                          ELSE 54 + octet_length(encode(text)) END AS BIGINT)
                  AS byte_len,
                CASE WHEN doc_id % 9 = 2 THEN 'truncated'
                     WHEN doc_id % 9 = 5 THEN 'bad_magic'
                     WHEN doc_id % 9 = 7 THEN 'size_mismatch'
                     ELSE 'ok' END AS lane,
                CAST(CASE WHEN doc_id % 9 = 2 THEN NULL
                          ELSE 54 + octet_length(encode(text)) END AS BIGINT)
                  AS declared_size
         FROM documents""",
    "mm01_binary_meta" -> {
      // the oracle mirrors the CONSTRUCTION (hash-derived dims + LE
      // byte layout); the Spark side genuinely parses the bytes, so a
      // match proves construct∘parse = identity
      val h = Portable.duckHash60("sha256(text)")
      def le32hex(e: String) =
        s"(SELECT substr(v,7,2)||substr(v,5,2)||substr(v,3,2)||substr(v,1,2) FROM (SELECT printf('%08x', $e) AS v))"
      s"""SELECT doc_id,
                 54 + octet_length(encode(text)) AS byte_len,
                 sha256(text) AS digest,
                 '424d' || ${le32hex("54 + octet_length(encode(text))")} || '0000' AS magic,
                 ($h) % 640 AS width,
                 ($h) % 480 AS height,
                 ($h) % 3 + 1 AS channels
          FROM documents"""
    },
    "mm03_frame_sample" -> {
      // recomputes the digest from the SAME byte slice the operator
      // hashes (lower-hex of pixel bytes [f·16, f·16+16))
      val h = Portable.duckHash60(s"substr(hx, f * ${2 * FrameBytes} + 1, ${2 * FrameBytes})")
      s"""SELECT doc_id, f AS frame_id, ($h) AS frame_digest
          FROM (SELECT doc_id, lower(hex(encode(text))) AS hx,
                       unnest(range(0, octet_length(encode(text)) // $FrameBytes,
                                    $FrameStep)) AS f
                FROM documents)"""
    },
    "mm04_wav_meta" -> {
      // mirrors the CONSTRUCTION; Spark parses the bytes (see mm01)
      val h = Portable.duckHash60("sha256(text)")
      s"""SELECT doc_id,
                 ($h) % 2 + 1 AS channels,
                 CAST(CASE ($h) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                      ELSE 44100 END AS BIGINT) AS sample_rate,
                 CAST(16 AS BIGINT) AS bits,
                 CAST(floor(octet_length(encode(text))
                            / ((($h) % 2 + 1) * 2.0)) AS BIGINT) AS n_samples
          FROM documents"""
    },
    "mm07_media_phash" -> {
      // same stride mapping (stride of byte i = i*64 div n; stride s
      // spans [ceil(s*n/64), ceil((s+1)*n/64))), same exact integer
      // cross-multiplied mean compare, same band cap and pigeonhole
      // candidate join
      s"""WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 2000000,
                   (CASE WHEN substr(text, 1, 1) = 'Q' THEN 'Z' ELSE 'Q' END)
                     || substr(text, 2)
            FROM documents WHERE doc_id % 10 = 5),
          by AS (SELECT doc_id,
                        list_transform(range(0, octet_length(encode(text))),
                          i -> ('0x' || substr(hex(encode(text)), (2*i + 1)::INT, 2))::BIGINT)
                          AS bytes
                 FROM corpus),
          st AS (SELECT doc_id, bytes, len(bytes) AS n,
                        CAST(list_aggregate(bytes, 'sum') AS BIGINT) AS total
                 FROM by WHERE len(bytes) >= 64),
          ssum AS (SELECT doc_id, n, total, s,
                          CAST(coalesce(list_aggregate(
                            bytes[((s*n + 63)//64 + 1)::INT :
                                  (((s+1)*n + 63)//64)::INT], 'sum'), 0) AS BIGINT)
                            AS sum_s,
                          ((s+1)*n + 63)//64 - (s*n + 63)//64 AS len_s
                   FROM (SELECT doc_id, bytes, n, total,
                                unnest(range(0, 64)) AS s
                         FROM st)),
          bits AS (SELECT doc_id, s // 16 AS band_id,
                          CAST(SUM(CASE WHEN sum_s * n > total * len_s
                                        THEN (1::BIGINT << (s % 16)::INT)
                                        ELSE 0 END) AS BIGINT) AS band
                   FROM ssum GROUP BY 1, 2),
          capped AS (SELECT doc_id, band_id, band FROM bits
                     QUALIFY COUNT(*) OVER (PARTITION BY band_id, band)
                               <= $PhashBandCap),
          sig AS (SELECT doc_id, list(band ORDER BY band_id) AS bands
                  FROM bits GROUP BY 1),
          cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM capped a JOIN capped b
                   ON a.band_id = b.band_id AND a.band = b.band
                      AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b, hamming FROM (
            SELECT c.doc_a, c.doc_b,
                   CAST(list_sum(list_transform(list_zip(sa.bands, sb.bands),
                          t -> bit_count(xor(t[1], t[2])))) AS BIGINT) AS hamming
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b)
          WHERE hamming <= 3"""
    },
    "mm06_wav_features" ->
      // same LE-int16 decode + exact integer frame stats over the text
      // bytes (== the payload's sample region by construction); RMS is
      // the one sqrt of an exact integer ratio on both engines
      s"""WITH $duckWavFrameCtes
          SELECT doc_id, frame_id, n_samples, sum_sq, peak, n_cross,
                 sqrt(CAST(sum_sq AS DOUBLE) / n_samples) AS rms
          FROM st""",
    // mm11: mm06's frame stats chained into the loud/quiet island runs
    "mm11_audio_segments" ->
      s"""WITH $duckWavFrameCtes,
          fl AS (SELECT doc_id, frame_id, sum_sq,
                        peak >= $LoudPeak AS loud
                 FROM st),
          g AS (SELECT doc_id, frame_id, sum_sq, loud,
                       frame_id - row_number() OVER
                         (PARTITION BY doc_id, loud ORDER BY frame_id)
                         AS grp
                 FROM fl)
          SELECT doc_id, loud,
                 CAST(MIN(frame_id) AS BIGINT) AS start_frame,
                 CAST(MAX(frame_id) AS BIGINT) AS end_frame,
                 CAST(COUNT(*) AS BIGINT) AS n_frames,
                 CAST(SUM(sum_sq) AS BIGINT) AS seg_energy
          FROM g GROUP BY doc_id, loud, grp""",
    // mm09: per-tile twin of mm02's byte math — the same unsigned-byte
    // list, sliced per 64-byte tile, min/max/sum/distinct with the
    // identical normalizing divisions
    "mm09_tile_features" ->
      s"""WITH b AS (
            SELECT doc_id,
                   list_transform(range(0, octet_length(encode(text))),
                     i -> ('0x' || substr(hex(encode(text)), 2*i + 1, 2))::BIGINT)
                     AS bytes,
                   octet_length(encode(text)) // $TileBytes AS n_tiles
            FROM documents),
          t AS (SELECT doc_id, bytes,
                       unnest(range(0, n_tiles)) AS tile_id
                FROM b WHERE n_tiles > 0),
          s AS (SELECT doc_id, CAST(tile_id AS BIGINT) AS tile_id,
                       bytes[tile_id * $TileBytes + 1 :
                             (tile_id + 1) * $TileBytes] AS tb
                FROM t)
          SELECT doc_id, tile_id,
                 list_aggregate(tb, 'min') / 255.0 AS t_min,
                 list_aggregate(tb, 'max') / 255.0 AS t_max,
                 CAST(list_aggregate(tb, 'sum') AS DOUBLE)
                   / ($TileBytes * 255.0) AS t_mean,
                 len(list_distinct(tb)) / 256.0 AS t_distinct
          FROM s""",
    "mm02_pixel_features" -> {
      // same byte math as ByteStatsUtil: unsigned byte values of the
      // pixel region (== the text's UTF-8 bytes by construction),
      // exact integer sums, one IEEE double division per feature; the
      // n >= 4 guard mirrors byte_stats' null-for-short-inputs
      // contract so both engines agree BY CONSTRUCTION on sub-stride
      // texts, not just on the current corpus
      s"""WITH b AS (
            SELECT doc_id, text,
                   list_transform(range(0, octet_length(encode(text))),
                     i -> ('0x' || substr(hex(encode(text)), 2*i + 1, 2))::BIGINT)
                     AS bytes
            FROM documents),
          s AS (
            SELECT doc_id,
                   CAST(floor(len(string_split(text, ' ')) / 4) AS BIGINT) AS n_frames,
                   bytes, len(bytes) AS n,
                   len(bytes) // 4 AS b1,
                   (2 * len(bytes)) // 4 AS b2,
                   (3 * len(bytes)) // 4 AS b3
            FROM b)
          SELECT doc_id, n_frames,
                 CASE WHEN n >= 4 THEN CAST(list_aggregate(bytes[1:b1], 'sum') AS DOUBLE) / (b1 * 255.0) END AS f0,
                 CASE WHEN n >= 4 THEN CAST(list_aggregate(bytes[b1+1:b2], 'sum') AS DOUBLE) / ((b2 - b1) * 255.0) END AS f1,
                 CASE WHEN n >= 4 THEN CAST(list_aggregate(bytes[b2+1:b3], 'sum') AS DOUBLE) / ((b3 - b2) * 255.0) END AS f2,
                 CASE WHEN n >= 4 THEN CAST(list_aggregate(bytes[b3+1:n], 'sum') AS DOUBLE) / ((n - b3) * 255.0) END AS f3,
                 CASE WHEN n >= 4 THEN list_aggregate(bytes, 'min') / 255.0 END AS f4,
                 CASE WHEN n >= 4 THEN list_aggregate(bytes, 'max') / 255.0 END AS f5,
                 CASE WHEN n >= 4 THEN CAST(list_aggregate(bytes, 'sum') AS DOUBLE) / (n * 255.0) END AS f6,
                 CASE WHEN n >= 4 THEN len(list_distinct(bytes)) / 256.0 END AS f7
          FROM s"""
    },
  )
}
