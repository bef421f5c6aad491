package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, batch-decoded per partition.
  *
  * The Spark-side mechanics here are real and production-shaped:
  *  - payloads are `BinaryType` columns (never strings — no charset damage),
  *  - metadata travels as a typed struct alongside the payload,
  *  - decode runs batched per partition via `mapPartitions` (the correct
  *    escape hatch for a native decoder library: amortizes per-batch library
  *    init, keeps memory bounded to one partition),
  *  - downstream stats are ordinary declarative aggregation again.
  *
  * The decode itself is a clearly-marked DETERMINISTIC STUB (media codecs
  * aren't in this container): it parses a fake 8-byte header (4-byte magic +
  * 2×2-byte dimensions) that `withPayload` synthesizes. Swapping in a real
  * JNI/javacpp decoder changes only `decodeStub`.
  */
object Multimodal {

  case class MediaMeta(media_type: String, declared_w: Int, declared_h: Int)
  case class MediaRow(doc_id: Long, source: String, payload: Array[Byte],
      meta: MediaMeta)
  case class Decoded(doc_id: Long, source: String, media_type: String,
      width: Int, height: Int, n_bytes: Long, header_ok: Boolean)

  // NOT private: Catalyst's generated deserializer must be able to access it
  case class DocSlim(doc_id: Long, source: String, text: String)

  /** Attach a synthetic binary payload + typed metadata to each document:
    * 8-byte header (magic "GRFT", width, height big-endian) + the UTF-8 text
    * bytes as the fake media body. Deterministic in doc_id. (Byte-level
    * synthesis is imperative on purpose — string functions would UTF-8-mangle
    * bytes > 0x7F; real pipelines read binary payloads straight off parquet.)
    */
  /** A small corpus arrives as ONE parquet split, so per-row decode work
    * placed before the first exchange (payload synthesis, pixel/sample
    * explodes, DCT terms — the expensive work of this family) would run on
    * a single task (guide §2.5: one unsplittable input → repartition
    * immediately after the read). Deterministic hash partitioning on
    * doc_id — never round-robin (no sort, stable under retries) — which
    * every downstream doc_id-keyed aggregate/window REUSES, so the plan
    * gains no extra exchange, the one shuffle just moves from after the
    * fan-out (frame/pixel grain) to before it (text grain — fewer bytes).
    * Scale-adaptive: when the scan already has at least as many splits as
    * cores (any production-sized corpus), this is a no-op. */
  private def spreadByDocId(s: SparkSession, df: DataFrame): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < par)
      df.repartition(par, col("doc_id"))
    else df
  }

  def withPayload(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = spreadByDocId(s,
      Tables.documents(s, d).select("doc_id", "source", "text"))
    docs.as[DocSlim]
      .map { doc =>
        val w = (doc.doc_id % 512 + 16).toInt
        val h = (doc.doc_id * 7 % 512 + 16).toInt
        val body = doc.text.getBytes("UTF-8")
        val header = Array[Byte]('G', 'R', 'F', 'T',
          (w >> 8).toByte, (w & 0xFF).toByte, (h >> 8).toByte, (h & 0xFF).toByte)
        MediaRow(doc.doc_id, doc.source, header ++ body, MediaMeta("image", w, h))
      }
      .toDF()
  }

  /** STUB decoder: parses the fake header. A real implementation would call
    * the codec here — signature, batching, and schema stay identical. */
  private def decodeStub(rows: Iterator[MediaRow]): Iterator[Decoded] =
    rows.map { r =>
      val p = r.payload
      val ok = p.length >= 8 &&
        p(0) == 'G'.toByte && p(1) == 'R'.toByte && p(2) == 'F'.toByte && p(3) == 'T'.toByte
      val wid = if (ok) ((p(4) & 0xFF) << 8) | (p(5) & 0xFF) else -1
      val hei = if (ok) ((p(6) & 0xFF) << 8) | (p(7) & 0xFF) else -1
      Decoded(r.doc_id, r.source, r.meta.media_type, wid, hei, p.length.toLong, ok)
    }

  /** Batch decode + per-source stats: the full multimodal pipeline shape.
    * Rows-only check; MultimodalSpec asserts decoded dims match the declared
    * metadata for every row. */
  def mmDecodeStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val decoded = withPayload(s, d).as[MediaRow].mapPartitions(decodeStub)
    decoded.toDF()
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_media"),
        sum(when(col("header_ok"), 1L).otherwise(0L)).as("n_decoded"),
        round(avg(col("width").cast("double")), 2).as("avg_width"),
        round(avg(col("height").cast("double")), 2).as("avg_height"),
        sum("n_bytes").as("total_bytes"))
      .orderBy("source")
  }

  /** Frame sampling over "video" payloads: uniform-stride selection of at
    * most 8 frame indices per document, then a byte-slice "frame extraction"
    * — the sampling plan a video-pretraining pipeline runs before feature
    * extraction. Everything after payload synthesis is DECLARATIVE and
    * codegen'd: `sequence(0, n-1, stride)` + `posexplode` generate the
    * sampled indices distributedly (never a driver-side loop over frames),
    * and `substring` on the BinaryType column slices the frame bytes. A real
    * decoder would replace only the slice with a mapPartitions arm like
    * decodeStub. Rows-only (payload synthesis is not SQL-expressible);
    * MultimodalSpec asserts stride uniformity, bounds, and byte accounting.
    *
    * The fake layout: the body after the 8-byte header is declared_w
    * "frames"; frame i starts at body offset i*frameBytes with frameBytes =
    * max(1, bodyLen div n_frames). */
  def mmFrameSample(s: SparkSession, d: String): DataFrame = {
    val withMeta = withPayload(s, d)
      .select(col("doc_id"), col("source"), col("payload"),
        col("meta.declared_w").cast("long").as("n_frames"),
        (length(col("payload")).cast("long") - 8L).as("body_len"))
      .withColumn("stride", greatest(lit(1L), expr("n_frames div 8")))
      .withColumn("frame_bytes", greatest(lit(1L), expr("body_len div n_frames")))
    val frames = withMeta
      .select(col("doc_id"), col("source"), col("payload"),
        col("n_frames"), col("frame_bytes"),
        posexplode(sequence(lit(0L), col("n_frames") - 1, col("stride")))
          .as(Seq("sample_idx", "frame_idx")))
      .filter(col("sample_idx") < 8) // cap: stride rounding can yield a 9th
      .withColumn("frame", expr(
        "substring(payload, cast(9 + frame_idx * frame_bytes as int), cast(frame_bytes as int))"))
    frames.groupBy("doc_id")
      .agg(count(lit(1)).as("n_sampled"),
        max("frame_idx").as("max_idx"),
        first("n_frames").as("n_frames"),
        sum(length(col("frame")).cast("long")).as("sampled_bytes"))
      .orderBy("doc_id")
  }

  /** The stub decode is DETERMINISTIC in (doc_id, utf-8 byte length), so the
    * whole binary round trip — header synthesis, mapPartitions batch parse,
    * big-endian dimension decode — is oracle-able: the SQL recomputes the
    * expected dimensions/sizes from first principles and the hash match
    * proves the byte-level plumbing is lossless. A corrupt header, a charset
    * mangle, or an off-by-one in the parse would all break the match. */
  private val mmDecodeStatsSql =
    """SELECT source, count(*) AS n_media, count(*) AS n_decoded,
      |  round(avg(doc_id % 512 + 16), 2) AS avg_width,
      |  round(avg(doc_id * 7 % 512 + 16), 2) AS avg_height,
      |  CAST(sum(8 + octet_length(encode(text))) AS BIGINT) AS total_bytes
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Same first-principles reconstruction for the frame sampler: stride,
    * frame size, the ≤8 sampled indices, and the short-read byte clamp
    * (substring past the payload end) are all closed-form in
    * (doc_id, byte length). */
  private val mmFrameSampleSql =
    """WITH meta AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 512 + 16 AS BIGINT) AS n_frames,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS body_len
      |  FROM documents
      |), m2 AS (
      |  SELECT doc_id, n_frames, body_len,
      |    GREATEST(1, n_frames // 8) AS stride,
      |    GREATEST(1, body_len // n_frames) AS frame_bytes
      |  FROM meta
      |), fr AS (
      |  SELECT doc_id, n_frames, frame_bytes, body_len, stride,
      |    unnest(generate_series(0, n_frames - 1, stride)) AS frame_idx
      |  FROM m2
      |)
      |SELECT doc_id, count(*) AS n_sampled, max(frame_idx) AS max_idx,
      |  max(n_frames) AS n_frames,
      |  CAST(sum(GREATEST(0, LEAST(frame_bytes, body_len - frame_idx * frame_bytes)))
      |    AS BIGINT) AS sampled_bytes
      |FROM fr WHERE frame_idx < 8 * stride
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** OVERLAPPED chunking over "audio" payloads: fixed 64-byte windows every
    * 48 bytes (25% overlap) — the ASR-pretraining segmentation shape
    * (30 s windows / 10 s hop, scaled to the stub payload). Like the frame
    * sampler, everything after payload synthesis is declarative:
    * `sequence(0, body_len−1, hop)` + `posexplode` generate chunk starts
    * distributedly, `substring` slices the bytes. `first_byte_sum`
    * aggregates the FIRST BYTE of every chunk, so the oracle (which
    * recomputes it from the text characters) proves each chunk starts at
    * exactly the right byte — offset arithmetic, not just byte counts.
    * A real feature extractor (fbank/MFCC) replaces only the slice with a
    * mapPartitions arm like decodeStub. */
  def mmAudioChunk(s: SparkSession, d: String): DataFrame = {
    val (win, hop) = (64L, 48L)
    val chunks = withPayload(s, d)
      .select(col("doc_id"),
        (length(col("payload")).cast("long") - 8L).as("body_len"),
        col("payload"))
      .select(col("doc_id"), col("body_len"), col("payload"),
        posexplode(sequence(lit(0L), col("body_len") - 1, lit(hop)))
          .as(Seq("chunk_no", "start")))
      .withColumn("chunk", expr(
        s"substring(payload, cast(9 + start as int), cast($win as int))"))
    chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        first("body_len").as("body_len"),
        sum(length(col("chunk")).cast("long")).as("chunked_bytes"),
        // payload body = UTF-8 text (ASCII in this corpus), so the first
        // byte of a chunk is the text character at its start offset
        sum(ascii(col("chunk").cast("string")).cast("long")).as("first_byte_sum"))
      .orderBy("doc_id")
  }

  /** First-principles reconstruction: starts, the short-window clamp, and
    * each chunk's first character are closed-form in (text, byte length). */
  private val mmAudioChunkSql =
    """WITH meta AS (
      |  SELECT doc_id, text,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS body_len
      |  FROM documents
      |), ch AS (
      |  SELECT doc_id, body_len, text,
      |    unnest(generate_series(0, body_len - 1, 48)) AS start
      |  FROM meta
      |)
      |SELECT doc_id, count(*) AS n_chunks, max(body_len) AS body_len,
      |  CAST(sum(LEAST(64, body_len - start)) AS BIGINT) AS chunked_bytes,
      |  CAST(sum(ascii(substr(text, CAST(start + 1 AS INT), 1))) AS BIGINT)
      |    AS first_byte_sum
      |FROM ch
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** PERCEPTUAL average-hash (aHash) over the media payload: sample 64
    * evenly-strided body bytes, threshold each against their floor-mean,
    * pack the 64 bits into a 16-hex-char fingerprint (a string, not a
    * BIGINT — bit 63 would wrap int64 sign differently across engines),
    * then dedup by fingerprint equality with min-id keepers — the
    * first-pass image near-dup strategy (identical-content detection
    * robust to container/metadata noise; hamming-radius pairing is the
    * SimHash chunk-blocking shape, already covered by dedup_simhash).
    * Everything after payload synthesis is declarative and exact-integer,
    * so the whole pipeline — stride sampling, mean threshold, bit packing,
    * bucket dedup — is oracle-able from first principles. */
  def mmAhash(s: SparkSession, d: String): DataFrame = {
    val sampled = withPayload(s, d)
      .select(col("doc_id"), col("payload"),
        (length(col("payload")).cast("long") - 8L).as("body_len"))
      .filter(col("body_len") > 0)
      .select(col("doc_id"), col("payload"), col("body_len"),
        posexplode(sequence(lit(0L), lit(63L))).as(Seq("ignored", "i")))
      .withColumn("pos", expr("(i * body_len) div 64"))
      .withColumn("b", ascii(expr("cast(substring(payload, cast(9 + pos as int), 1) as string)")).cast("long"))
    val bits = sampled
      .withColumn("mean", expr("sum(b) over (partition by doc_id) div 64"))
      .withColumn("bit", when(col("b") >= col("mean"), 1L).otherwise(0L))
      .withColumn("j", expr("i div 4"))
      .withColumn("wt", expr("cast(pow(2, i % 4) as bigint)"))
    val nibbles = bits.groupBy("doc_id", "j")
      .agg(sum(col("bit") * col("wt")).as("nv"))
      .withColumn("ch", expr("substring('0123456789abcdef', cast(nv + 1 as int), 1)"))
    val hashes = nibbles.groupBy("doc_id")
      .agg(expr("array_join(reverse(transform(sort_array(collect_list(struct(j, ch))), x -> x.ch)), '')")
        .as("ahash"))
    hashes
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("ahash")))
      .select(col("doc_id"), col("ahash"), col("keeper"),
        (col("doc_id") =!= col("keeper")).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Per-source BYTE-VALUE histogram over the raw binary payloads: the
    * top-8 most frequent byte values plus the distinct-byte-value count —
    * the file-type / corruption fingerprint a media-ingest pipeline runs
    * before dispatching decoders (uniform byte spread ⇒ compressed or
    * encrypted junk; a spiky profile ⇒ text or structured media). The
    * payload is byte-exploded DECLARATIVELY via hex + sequence + substring
    * (no UDF touches the bytes); the per-source top-8 is a partitioned
    * rank window. The oracle reconstructs the identical byte stream from
    * the header formula + UTF-8 text, so the hash match proves the whole
    * binary round trip byte-for-byte. */
  def mmByteHistogram(s: SparkSession, d: String): DataFrame = {
    val bytes = withPayload(s, d)
      .select(col("source"), hex(col("payload")).as("hx"))
      .select(col("source"), col("hx"),
        explode(expr("sequence(0L, length(hx) div 2 - 1)")).as("i"))
      .select(col("source"),
        expr("substring(hx, cast(2 * i + 1 as int), 2)").as("byte_hex"))
    val counts = bytes.groupBy("source", "byte_hex").agg(count(lit(1)).as("n"))
    val bySource = Window.partitionBy("source")
    val rk = Window.partitionBy("source").orderBy(col("n").desc, col("byte_hex").asc)
    counts
      .withColumn("n_distinct_bytes", count(lit(1)).over(bySource))
      .withColumn("rk", row_number().over(rk).cast("long"))
      .filter(col("rk") <= 8)
      .select("source", "rk", "byte_hex", "n", "n_distinct_bytes")
      .orderBy("source", "rk")
  }

  private val mmByteHistogramSql =
    """WITH hx AS (
      |  SELECT source,
      |    '47524654'
      |    || lpad(hex((doc_id % 512 + 16) // 256), 2, '0')
      |    || lpad(hex((doc_id % 512 + 16) % 256), 2, '0')
      |    || lpad(hex((doc_id * 7 % 512 + 16) // 256), 2, '0')
      |    || lpad(hex((doc_id * 7 % 512 + 16) % 256), 2, '0')
      |    || hex(encode(text)) AS hx
      |  FROM documents
      |), idx AS (
      |  SELECT source, hx, unnest(generate_series(0, length(hx) // 2 - 1)) AS i
      |  FROM hx
      |), b AS (
      |  SELECT source, substr(hx, CAST(2 * i + 1 AS INT), 2) AS byte_hex FROM idx
      |), counts AS (
      |  SELECT source, byte_hex, CAST(count(*) AS BIGINT) AS n
      |  FROM b GROUP BY source, byte_hex
      |), ranked AS (
      |  SELECT source, byte_hex, n,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_distinct_bytes,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, byte_hex)
      |      AS BIGINT) AS rk
      |  FROM counts
      |)
      |SELECT source, rk, byte_hex, n, n_distinct_bytes
      |FROM ranked WHERE rk <= 8
      |ORDER BY source, rk""".stripMargin

  private val mmAhashSql =
    """WITH meta AS (
      |  SELECT doc_id, text,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS body_len
      |  FROM documents
      |  WHERE octet_length(encode(text)) > 0
      |), sampled AS (
      |  SELECT doc_id, body_len, i.i,
      |    ascii(substr(text, CAST((i.i * body_len) // 64 + 1 AS INT), 1)) AS b
      |  FROM meta CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) i
      |), bits AS (
      |  SELECT doc_id, i,
      |    CASE WHEN b >= CAST(sum(b) OVER (PARTITION BY doc_id) // 64 AS BIGINT)
      |         THEN 1 ELSE 0 END AS bit
      |  FROM sampled
      |), nibbles AS (
      |  SELECT doc_id, i // 4 AS j,
      |    substr('0123456789abcdef',
      |      CAST(sum(bit * CAST(pow(2, i % 4) AS BIGINT)) + 1 AS INT), 1) AS ch
      |  FROM bits GROUP BY doc_id, i // 4
      |), hashes AS (
      |  SELECT doc_id, string_agg(ch, '' ORDER BY j DESC) AS ahash
      |  FROM nibbles GROUP BY doc_id
      |)
      |SELECT doc_id, ahash,
      |  min(doc_id) OVER (PARTITION BY ahash) AS keeper,
      |  doc_id <> min(doc_id) OVER (PARTITION BY ahash) AS is_dup
      |FROM hashes
      |ORDER BY doc_id""".stripMargin

  /** ViT-style PATCH EXTRACTION plumbing: cut each "image" into a grid of
    * 8×8 tiles and emit a per-tile fingerprint + ink count — the patchify
    * step every vision-transformer ingestion pipeline runs before encoding,
    * at the (doc, tile) grain a 100 TB image corpus shards on. The grid
    * enumeration is `explode(sequence)` twice (distributed — never a driver
    * loop) and each tile gathers its 8 row-slices with codegen'd substring
    * arithmetic over the row-major layout: tile(tx,ty) row r starts at
    * (ty·8+r)·img_w + tx·8. The "image" is the document text as a 1
    * char = 1 px grayscale stub (real decoders live behind the
    * mapPartitions arm, mm_decode_stats) padded to img_w×img_h — so the
    * whole pipeline is deterministic in (doc_id, text) and fully oracled:
    * the hash proves every tile slices exactly the right pixels. */
  def mmImageTile(s: SparkSession, d: String): DataFrame = {
    val imgW = (col("doc_id") % 3) * 8 + 16          // 16/24/32 px wide
    val imgH = (expr("doc_id div 3") % 3) * 8 + 16   // 16/24/32 px tall
    val base = Tables.documents(s, d)
      .select(col("doc_id"), imgW.as("img_w"), imgH.as("img_h"),
        rpad(col("text"), 1024, ".").as("px")) // row-major pixel buffer
      .select(col("*"), expr("img_w div 8").as("n_tx"), expr("img_h div 8").as("n_ty"))
    val grid = base
      .select(col("*"), explode(sequence(lit(0L), col("n_ty") - 1)).as("ty"))
      .select(col("*"), explode(sequence(lit(0L), col("n_tx") - 1)).as("tx"))
    val tile = concat((0 until 8).map { r =>
      substring(col("px"),
        ((col("ty") * 8 + r) * col("img_w") + col("tx") * 8 + 1).cast("int"),
        lit(8))
    }: _*)
    grid
      .select(col("doc_id"), col("tx"), col("ty"),
        substring(md5(tile), 1, 8).as("tile_md5"),
        (lit(64L) - length(regexp_replace(tile, "[^.]", ""))).as("ink_px"))
      .orderBy("doc_id", "ty", "tx")
  }

  private val mmImageTileSql = {
    val tile = (0 until 8).map { r =>
      s"substr(px, CAST((ty * 8 + $r) * img_w + tx * 8 + 1 AS INT), 8)"
    }.mkString(" || ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    (doc_id % 3) * 8 + 16 AS img_w,
       |    ((doc_id // 3) % 3) * 8 + 16 AS img_h,
       |    rpad(text, 1024, '.') AS px
       |  FROM documents
       |), rows_ty AS (
       |  SELECT *, unnest(range(0, img_h // 8)) AS ty FROM base
       |), grid AS (
       |  SELECT *, unnest(range(0, img_w // 8)) AS tx FROM rows_ty
       |)
       |SELECT doc_id, tx, ty,
       |  substr(md5($tile), 1, 8) AS tile_md5,
       |  64 - length(regexp_replace($tile, '[^.]', '', 'g')) AS ink_px
       |FROM grid
       |ORDER BY doc_id, ty, tx""".stripMargin
  }

  /** Shot-boundary detection over the sampled frame sequence — the video
    * segmentation step (split on hard cuts before captioning/encoding) at
    * the (doc, shot) grain a video corpus shards on. Composes the frame
    * sampler's closed-form sampling with a lag() intensity delta: a
    * boundary fires where consecutive sampled frames' intensity jumps more
    * than the threshold. Intensity here is the frame's FIRST BYTE (the
    * audio-chunk oracle trick — proves exact offset arithmetic, not just
    * counts); a real detector would histogram the decoded frame behind the
    * mapPartitions arm instead. One explode + one per-doc window on the
    * already-sampled ≤8 rows + one aggregate; boundaries join to a csv
    * string (driver compare needs scalar columns). */
  def mmVideoShotBoundary(s: SparkSession, d: String): DataFrame = {
    val frames = withPayload(s, d)
      .select(col("doc_id"), col("payload"),
        col("meta.declared_w").cast("long").as("n_frames"),
        (length(col("payload")).cast("long") - 8L).as("body_len"))
      .withColumn("stride", greatest(lit(1L), expr("n_frames div 8")))
      .withColumn("frame_bytes", greatest(lit(1L), expr("body_len div n_frames")))
      .select(col("*"),
        posexplode(sequence(lit(0L), col("n_frames") - 1, col("stride")))
          .as(Seq("sample_idx", "frame_idx")))
      .filter(col("sample_idx") < 8 &&
        col("frame_idx") * col("frame_bytes") < col("body_len"))
      .withColumn("intensity", ascii(expr(
        "cast(substring(payload, cast(9 + frame_idx * frame_bytes as int), 1) as string)"))
        .cast("long"))
    val w = Window.partitionBy("doc_id").orderBy("sample_idx")
    val deltas = frames
      .withColumn("prev", lag("intensity", 1).over(w))
      .withColumn("is_cut",
        col("prev").isNotNull && abs(col("intensity") - col("prev")) > 16)
    deltas.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts"),
        (sum(when(col("is_cut"), 1L).otherwise(0L)) + 1L).as("n_shots"),
        expr("array_join(transform(sort_array(collect_list(" +
          "CASE WHEN is_cut THEN frame_idx END)), x -> cast(x as string)), ',')")
          .as("cut_frames"))
      .orderBy("doc_id")
  }

  private val mmVideoShotBoundarySql =
    """WITH meta AS (
      |  SELECT doc_id, text,
      |    CAST(doc_id % 512 + 16 AS BIGINT) AS n_frames,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS body_len
      |  FROM documents
      |), m2 AS (
      |  SELECT doc_id, text, n_frames, body_len,
      |    GREATEST(1, n_frames // 8) AS stride,
      |    GREATEST(1, body_len // n_frames) AS frame_bytes
      |  FROM meta
      |), fr AS (
      |  SELECT doc_id, frame_idx, frame_idx // stride AS sample_idx,
      |    ascii(substr(text, CAST(frame_idx * frame_bytes + 1 AS INT), 1)) AS intensity
      |  FROM (SELECT *, unnest(generate_series(0, n_frames - 1, stride)) AS frame_idx
      |        FROM m2)
      |  WHERE frame_idx < 8 * stride AND frame_idx * frame_bytes < body_len
      |), de AS (
      |  SELECT doc_id, frame_idx,
      |    lag(intensity) OVER (PARTITION BY doc_id ORDER BY sample_idx) AS prev,
      |    intensity
      |  FROM fr
      |)
      |SELECT doc_id, count(*) AS n_sampled,
      |  CAST(sum(CASE WHEN prev IS NOT NULL AND abs(intensity - prev) > 16
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
      |  CAST(sum(CASE WHEN prev IS NOT NULL AND abs(intensity - prev) > 16
      |    THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_shots,
      |  coalesce(string_agg(CAST(frame_idx AS VARCHAR), ',' ORDER BY frame_idx)
      |    FILTER (WHERE prev IS NOT NULL AND abs(intensity - prev) > 16), '')
      |    AS cut_frames
      |FROM de GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // mm_phash — DCT perceptual hash (the classic pHash): the 16×16
  // grayscale "image" (text-as-pixels stub, the mm_image_tile convention)
  // goes through a 2-D type-II DCT, the 8×8 lowest-frequency block is
  // thresholded against its median, and the 64 bits pack into a
  // 16-hex-char fingerprint. Unlike mm_ahash's mean-of-samples, pHash
  // captures the image's low-frequency STRUCTURE, so it survives
  // brightness shifts and local noise — the spec proves a one-character
  // perturbation moves ≤ 12 of 64 bits while a different document moves
  // more.
  //
  // Scale + parity design: the separable DCT runs as two broadcast-joined
  // INTEGER weight tables (micro-unit cos values computed once in Scala
  // and embedded verbatim in the oracle SQL — the LSH-planes trick — so
  // there is NO cross-engine cos() to trust); each (pixel, u, v) term is
  // an exact long product and the coefficient sum is order-independent
  // integer arithmetic. Pixels explode 256-wide, the weight joins fan out
  // ×64, and one hash-aggregate collapses back to (doc, u, v) — a single
  // corpus scan, no shuffle wider than the doc_id aggregate.
  // ---------------------------------------------------------------------

  /** 1-D 16-point DCT-II weights in integer micro-units: w(i,u) =
    * round(cos((2i+1)·u·π/32)·1e6). Both engines consume these literals. */
  private[graft] val dctW: Seq[(Int, Int, Long)] =
    for { i <- 0 until 16; u <- 0 until 8 }
      yield (i, u, math.round(math.cos((2 * i + 1) * u * math.Pi / 32) * 1e6))

  def mmPhash(s: SparkSession, d: String): DataFrame =
    phashOn(s, Tables.documents(s, d).select("doc_id", "text"))

  /** pHash keeper/dup view over any (doc_id, text) relation. */
  private[graft] def phashOn(s: SparkSession, docs: DataFrame): DataFrame =
    phashHashes(s, docs)
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("phash")))
      .select(col("doc_id"), col("phash"), col("keeper"),
        (col("doc_id") =!= col("keeper")).as("is_dup"))
      .orderBy("doc_id")

  /** pHash core: (doc_id, 16-hex phash) over any (doc_id, text) relation —
    * shared by mm_phash's exact-dup view and mm_image_neardup's
    * hamming-blocked near-dup join. */
  private[graft] def phashHashes(s: SparkSession, docs: DataFrame): DataFrame = {
    val w1 = s.createDataFrame(dctW).toDF("x", "u", "wx")
    val w2 = s.createDataFrame(dctW).toDF("y", "v", "wy")
    // spread BEFORE the 256× pixel explode (r16): the old plan
    // repartitioned the exploded pixel rows, so the explode + per-pixel
    // ascii/substring still ran on the scan's single task AND the exchange
    // carried pixel-grain rows (12.7 MB at sf0.1 vs 5 MB of text); the
    // guarded doc_id spread parallelizes the fan-out and every downstream
    // doc_id-keyed aggregate reuses the partitioning.
    val px = spreadByDocId(s, docs)
      .select(col("doc_id"), rpad(col("text"), 256, ".").as("img"))
      .select(col("doc_id"), col("img"),
        posexplode(sequence(lit(0), lit(255))).as(Seq("ignored", "p")))
      .select(col("doc_id"), expr("p % 16").as("x"), expr("p div 16").as("y"),
        ascii(expr("substring(img, cast(p + 1 as int), 1)")).cast("long").as("pv"))
    // SEPARABLE 2-D DCT: contract the x axis first (256 px → 128 (y,u)
    // partials per image), then the y axis (128 → 64 coefficients) — the
    // textbook factorization; fan-out is 8+8 instead of ×64, and both
    // hash-aggregates are map-side-combinable integer sums.
    val sx = px.join(broadcast(w1), "x")
      .groupBy("doc_id", "y", "u")
      .agg(sum(col("pv") * col("wx")).as("sxv"))
    val coefs = sx.join(broadcast(w2), "y")
      .groupBy("doc_id", "u", "v")
      .agg(sum(col("sxv") * col("wy")).as("coef"))
    val wMed = Window.partitionBy("doc_id").orderBy(col("coef").asc, col("u").asc, col("v").asc)
    val med = coefs.withColumn("rk", row_number().over(wMed))
      .filter(col("rk") === 32)
      .select(col("doc_id"), col("coef").as("med"))
    val bits = coefs.join(med, "doc_id")
      .withColumn("i", (col("u") * 8 + col("v")).cast("long"))
      .withColumn("bit", when(col("coef") > col("med"), 1L).otherwise(0L))
      .withColumn("j", expr("i div 4"))
      .withColumn("wt", expr("cast(pow(2, i % 4) as bigint)"))
    val nibbles = bits.groupBy("doc_id", "j")
      .agg(sum(col("bit") * col("wt")).as("nv"))
      .withColumn("ch", expr("substring('0123456789abcdef', cast(nv + 1 as int), 1)"))
    nibbles.groupBy("doc_id")
      .agg(expr("array_join(reverse(transform(sort_array(collect_list(struct(j, ch))), x -> x.ch)), '')")
        .as("phash"))
  }

  /** Shared CTE chain computing (doc_id, phash) in DuckDB — the oracle
    * prefix of both mm_phash and mm_image_neardup. */
  private val phashCteSql = {
    val wRows = dctW.map { case (i, u, w) => s"($i, $u, ${w}::BIGINT)" }.mkString(", ")
    s"""WITH w1(x, u, wx) AS (
       |  VALUES $wRows
       |), w2(y, v, wy) AS (
       |  VALUES $wRows
       |), px AS (
       |  SELECT doc_id, p.p % 16 AS x, p.p // 16 AS y,
       |    CAST(ascii(substr(rpad(text, 256, '.'), CAST(p.p + 1 AS INT), 1)) AS BIGINT) AS pv
       |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS p) p
       |), coefs AS (
       |  SELECT doc_id, u, v, CAST(sum(pv * wx * wy) AS BIGINT) AS coef
       |  FROM px JOIN w1 USING (x) JOIN w2 USING (y)
       |  GROUP BY doc_id, u, v
       |), med AS (
       |  SELECT doc_id, coef AS med FROM (
       |    SELECT doc_id, coef,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY coef, u, v) AS rk
       |    FROM coefs
       |  ) WHERE rk = 32
       |), bits AS (
       |  SELECT c.doc_id, CAST(c.u * 8 + c.v AS BIGINT) AS i,
       |    CASE WHEN c.coef > m.med THEN 1 ELSE 0 END AS bit
       |  FROM coefs c JOIN med m ON c.doc_id = m.doc_id
       |), nibbles AS (
       |  SELECT doc_id, i // 4 AS j,
       |    substr('0123456789abcdef',
       |      CAST(sum(bit * CAST(pow(2, i % 4) AS BIGINT)) + 1 AS INT), 1) AS ch
       |  FROM bits GROUP BY doc_id, i // 4
       |), hashes AS (
       |  SELECT doc_id, string_agg(ch, '' ORDER BY j DESC) AS phash
       |  FROM nibbles GROUP BY doc_id
       |)""".stripMargin
  }

  private val mmPhashSql =
    s"""$phashCteSql
       |SELECT doc_id, phash,
       |  min(doc_id) OVER (PARTITION BY phash) AS keeper,
       |  doc_id <> min(doc_id) OVER (PARTITION BY phash) AS is_dup
       |FROM hashes
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // mm_image_neardup — PERCEPTUAL NEAR-DUPLICATE image pairs: two
  // "images" (the text-as-pixels stub; the Spark-side plumbing — binary
  // schema, DCT, packing — is the real deliverable) are near-dups when
  // their 64-bit pHashes differ in ≤ 3 bits. mm_phash's keeper view only
  // catches EXACT hash equality; this is the tolerance-radius version a
  // production image dedup runs (pHash hamming ≤ k survives re-encode,
  // resize artifacts, brightness shifts).
  //
  // Scale + recall design: the dedup_simhash pigeonhole — candidates
  // blocked on equality of any of the 4×16-bit hash chunks; hamming ≤ 3
  // over 4 chunks forces ≥1 equal chunk, so the blocked pair set PROVABLY
  // equals the all-pairs one (the oracle is the unblocked all-pairs join —
  // the hash match is the recall proof). Verification is two XOR+popcount
  // ops on the hex-decoded halves. Chunk buckets bound the join fanout;
  // nothing materializes n².
  // ---------------------------------------------------------------------
  def mmImageNeardup(s: SparkSession, d: String): DataFrame = {
    val hashes = phashHashes(s,
      Tables.documents(s, d).select("doc_id", "text")).cache()
    val chunked = hashes
      .select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("ci"))
      .select(col("doc_id"), col("phash"), col("ci"),
        conv(expr("substring(phash, cast(ci * 4 + 1 as int), 4)"), 16, 10)
          .cast("long").as("chunk"))
    val cand = chunked.as("a").join(chunked.as("b"),
        col("a.ci") === col("b.ci") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("pa"), col("b.phash").as("pb"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .withColumn("hamming", expr(
        """bit_count(cast(conv(substring(pa, 1, 8), 16, 10) as bigint)
          | ^ cast(conv(substring(pb, 1, 8), 16, 10) as bigint))
          |+ bit_count(cast(conv(substring(pa, 9, 8), 16, 10) as bigint)
          | ^ cast(conv(substring(pb, 9, 8), 16, 10) as bigint))"""
          .stripMargin).cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  private val mmImageNeardupSql = {
    // 16-bit chunk c (hex chars 4c+1..4c+4) as an integer, nibble-decoded
    def chunk(c: Int): String = OracleSql.hexPrefix(s"substr(phash, ${c * 4 + 1}, 4)", 4)
    val ham = (0 until 4).map(c => s"bit_count(xor(a.c$c, b.c$c))").mkString(" + ")
    s"""$phashCteSql,
       |chunks AS (
       |  SELECT doc_id, ${(0 until 4).map(c => s"${chunk(c)} AS c$c").mkString(", ")}
       |  FROM hashes
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST($ham AS BIGINT) AS hamming
       |FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id
       |WHERE $ham <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // mm_audio_vad — energy-threshold VOICE ACTIVITY DETECTION over the PCM
  // stub (text chars as samples, the mm_audio_chunk convention): the
  // stream frames into 32-sample windows, each frame's energy is
  // Σ(sample−128)², a frame is "speech" when its energy exceeds the
  // per-document mean (integer multiply-compare — no division), and
  // consecutive speech frames merge into SEGMENTS by the run-grouping
  // trick (frame − row_number over speech frames is constant per run) —
  // the speech-segmentation step an audio corpus runs before transcribing
  // only the voiced spans. Real decoders live behind the mapPartitions
  // arm (mm_decode_stats); everything here is declarative and
  // exact-integer, so the whole pipeline is oracled from first principles.
  // ---------------------------------------------------------------------

  def mmAudioVad(s: SparkSession, d: String): DataFrame = {
    val frameLen = 32
    val frames = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        expr(s"length(text) div $frameLen").cast("long").as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("text"), col("n_frames"),
        posexplode(sequence(lit(0L), col("n_frames") - 1)).as(Seq("ignored", "f")))
      .select(col("doc_id"), col("text"), col("n_frames"), col("f"),
        posexplode(sequence(lit(0), lit(frameLen - 1))).as(Seq("ig2", "j")))
      .select(col("doc_id"), col("n_frames"), col("f"),
        (ascii(expr(s"substring(text, cast(f * $frameLen + j + 1 as int), 1)"))
          .cast("long") - 128L).as("v"))
      .groupBy("doc_id", "n_frames", "f")
      .agg(sum(col("v") * col("v")).as("energy"))
    // speech ⟺ energy·n_frames > Σenergy (strictly above the doc mean)
    val marked = frames
      .withColumn("tot", sum("energy").over(Window.partitionBy("doc_id")))
      .withColumn("speech", col("energy") * col("n_frames") > col("tot"))
    val segs = marked.filter(col("speech"))
      .withColumn("grp",
        col("f") - row_number().over(Window.partitionBy("doc_id").orderBy("f")))
      .groupBy("doc_id", "grp")
      .agg(min("f").as("seg_start"), count(lit(1)).as("seg_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        concat_ws(",", sort_array(collect_list(
          format_string("%04d", col("seg_start").cast("int"))))).as("seg_starts"))
    marked.groupBy("doc_id")
      .agg(max("n_frames").as("n_frames"),
        sum(when(col("speech"), 1L).otherwise(0L)).as("n_speech"))
      .join(segs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"), col("n_speech"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        expr("n_speech * 10000 div n_frames").as("speech_bp"),
        coalesce(col("seg_starts"), lit("")).as("seg_starts"))
      .orderBy("doc_id")
  }

  private val mmAudioVadSql =
    """WITH meta AS (
      |  SELECT doc_id, text, CAST(length(text) // 32 AS BIGINT) AS n_frames
      |  FROM documents WHERE length(text) // 32 > 0
      |), fr0 AS (
      |  SELECT doc_id, text, n_frames,
      |    unnest(generate_series(0, n_frames - 1)) AS f
      |  FROM meta
      |), sm AS (
      |  SELECT doc_id, n_frames, f,
      |    ascii(substr(text, CAST(f * 32 + j.j + 1 AS INT), 1)) - 128 AS v
      |  FROM fr0 CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) j
      |), fr AS (
      |  SELECT doc_id, n_frames, f, CAST(sum(v * v) AS BIGINT) AS energy
      |  FROM sm GROUP BY doc_id, n_frames, f
      |), marked AS (
      |  SELECT doc_id, n_frames, f, energy,
      |    energy * n_frames > CAST(sum(energy) OVER (PARTITION BY doc_id)
      |      AS BIGINT) AS speech
      |  FROM fr
      |), segs AS (
      |  SELECT doc_id, count(*) AS n_segments,
      |    string_agg(lpad(CAST(seg_start AS VARCHAR), 4, '0'), ','
      |      ORDER BY seg_start) AS seg_starts
      |  FROM (
      |    SELECT doc_id, min(f) AS seg_start
      |    FROM (SELECT doc_id, f,
      |            f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
      |          FROM marked WHERE speech)
      |    GROUP BY doc_id, grp
      |  ) GROUP BY doc_id
      |)
      |SELECT m.doc_id, max(m.n_frames) AS n_frames,
      |  CAST(sum(CASE WHEN m.speech THEN 1 ELSE 0 END) AS BIGINT) AS n_speech,
      |  coalesce(max(s.n_segments), 0) AS n_segments,
      |  CAST(sum(CASE WHEN m.speech THEN 1 ELSE 0 END) * 10000
      |    // max(m.n_frames) AS BIGINT) AS speech_bp,
      |  coalesce(max(s.seg_starts), '') AS seg_starts
      |FROM marked m LEFT JOIN segs s ON m.doc_id = s.doc_id
      |GROUP BY m.doc_id
      |ORDER BY m.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // mm_audio_fingerprint — CONSTELLATION audio fingerprinting (Wang 2003,
  // the Shazam scheme) over the PCM stub: frame energies → strict local
  // maxima as spectral "peaks" → each peak paired with its next ≤2 peaks
  // within 16 frames → landmark hash (quantized energies + the gap). The
  // retrieval key behind audio dedup/content-ID at corpus scale: matching
  // clips share landmark hashes, so the 100 TB lookup is an equi-join on
  // `fp`, never a signal-level comparison.
  //
  // Exactness: energies are integer (Σv² over char samples, the
  // mm_audio_chunk convention); peaks use strict > against the previous
  // and ≥ the next frame (deterministic at plateaus); the hash is pure
  // integer arithmetic — no FFT, no floats (the container has no codec
  // libs; the pipeline shape is the real one).
  //
  // Scale shape: per-doc windows over frame rows (fanout = length/32),
  // then one aggregate to doc grain. Everything partitions by doc_id.
  // ---------------------------------------------------------------------
  def mmAudioFingerprint(s: SparkSession, d: String): DataFrame = {
    val frameLen = 32
    // guarded doc_id spread before the frame×sample double explode (r16):
    // the char-grain fan-out otherwise runs on the scan's single task; the
    // (doc_id, n_frames, f) energy aggregate reuses the partitioning.
    val frames = spreadByDocId(s, Tables.documents(s, d))
      .select(col("doc_id"), col("text"),
        expr(s"length(text) div $frameLen").cast("long").as("n_frames"))
      .filter(col("n_frames") > 2)
      .select(col("doc_id"), col("text"), col("n_frames"),
        posexplode(sequence(lit(0L), col("n_frames") - 1)).as(Seq("ignored", "f")))
      .select(col("doc_id"), col("text"), col("n_frames"), col("f"),
        posexplode(sequence(lit(0), lit(frameLen - 1))).as(Seq("ig2", "j")))
      .select(col("doc_id"), col("n_frames"), col("f"),
        (ascii(expr(s"substring(text, cast(f * $frameLen + j + 1 as int), 1)"))
          .cast("long") - 128L).as("v"))
      .groupBy("doc_id", "n_frames", "f")
      .agg(sum(col("v") * col("v")).as("energy"))
    val wf = Window.partitionBy("doc_id").orderBy("f")
    val peaks = frames
      .withColumn("pe", lag("energy", 1).over(wf))
      .withColumn("ne", lead("energy", 1).over(wf))
      .filter(col("pe").isNotNull && col("ne").isNotNull &&
        col("energy") > col("pe") && col("energy") >= col("ne"))
      .select(col("doc_id"), col("n_frames"), col("f"), col("energy"))
    val wp = Window.partitionBy("doc_id").orderBy("f")
    val landmarks = peaks
      .withColumn("f1", lead("f", 1).over(wp))
      .withColumn("e1", lead("energy", 1).over(wp))
      .withColumn("f2", lead("f", 2).over(wp))
      .withColumn("e2", lead("energy", 2).over(wp))
      .select(col("doc_id"), col("n_frames"), col("f"), col("energy"),
        explode(array(
          struct(col("f1").as("ft"), col("e1").as("et")),
          struct(col("f2").as("ft"), col("e2").as("et")))).as("pair"))
      .filter(col("pair.ft").isNotNull && col("pair.ft") - col("f") <= 16)
      .select(col("doc_id"), col("n_frames"),
        (((pmod(col("energy"), lit(997L)) * 997L + pmod(col("pair.et"), lit(997L)))
          * 64L) + (col("pair.ft") - col("f"))).as("fp"))
    landmarks.groupBy("doc_id")
      .agg(max("n_frames").as("n_frames"),
        count(lit(1)).as("n_landmarks"),
        count_distinct(col("fp")).as("n_distinct_fp"),
        min("fp").as("fp_min"), max("fp").as("fp_max"),
        pmod(sum("fp"), lit(1000000007L)).as("fp_checksum"))
      .orderBy("doc_id")
  }

  private val mmAudioFingerprintSql =
    """WITH meta AS (
      |  SELECT doc_id, text, CAST(length(text) // 32 AS BIGINT) AS n_frames
      |  FROM documents WHERE length(text) // 32 > 2
      |), fr0 AS (
      |  SELECT doc_id, text, n_frames,
      |    unnest(generate_series(0, n_frames - 1)) AS f
      |  FROM meta
      |), sm AS (
      |  SELECT doc_id, n_frames, f,
      |    ascii(substr(text, CAST(f * 32 + j.j + 1 AS INT), 1)) - 128 AS v
      |  FROM fr0 CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) j
      |), fr AS (
      |  SELECT doc_id, n_frames, f, CAST(sum(v * v) AS BIGINT) AS energy
      |  FROM sm GROUP BY doc_id, n_frames, f
      |), pk AS (
      |  SELECT doc_id, n_frames, f, energy FROM (
      |    SELECT doc_id, n_frames, f, energy,
      |      lag(energy, 1) OVER (PARTITION BY doc_id ORDER BY f) AS pe,
      |      lead(energy, 1) OVER (PARTITION BY doc_id ORDER BY f) AS ne
      |    FROM fr)
      |  WHERE pe IS NOT NULL AND ne IS NOT NULL AND energy > pe AND energy >= ne
      |), led AS (
      |  SELECT doc_id, n_frames, f, energy,
      |    lead(f, 1) OVER (PARTITION BY doc_id ORDER BY f) AS f1,
      |    lead(energy, 1) OVER (PARTITION BY doc_id ORDER BY f) AS e1,
      |    lead(f, 2) OVER (PARTITION BY doc_id ORDER BY f) AS f2,
      |    lead(energy, 2) OVER (PARTITION BY doc_id ORDER BY f) AS e2
      |  FROM pk
      |), lm AS (
      |  SELECT doc_id, n_frames,
      |    ((energy % 997) * 997 + (e1 % 997)) * 64 + (f1 - f) AS fp
      |  FROM led WHERE f1 IS NOT NULL AND f1 - f <= 16
      |  UNION ALL
      |  SELECT doc_id, n_frames,
      |    ((energy % 997) * 997 + (e2 % 997)) * 64 + (f2 - f) AS fp
      |  FROM led WHERE f2 IS NOT NULL AND f2 - f <= 16
      |)
      |SELECT doc_id, max(n_frames) AS n_frames,
      |  CAST(count(*) AS BIGINT) AS n_landmarks,
      |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
      |  CAST(min(fp) AS BIGINT) AS fp_min, CAST(max(fp) AS BIGINT) AS fp_max,
      |  CAST(sum(fp) % 1000000007 AS BIGINT) AS fp_checksum
      |FROM lm GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // mm_audio_snr — per-document SIGNAL-TO-NOISE RATIO estimate over the
  // PCM stub: mm_audio_vad's energy split (speech = frame energy strictly
  // above the doc mean) reduced to the dB number an audio-corpus quality
  // filter thresholds on (drop clips under ~X dB before paying for
  // transcription). SNR = 10·log10(mean speech energy / mean noise
  // energy), evaluated on the CROSS-MULTIPLIED integer ratio
  // (se·nn)/(ne·ns) — one exact BIGINT rational through a single log10,
  // milli-quantized (the ln-quantization precedent); NULL when a side is
  // empty or zero-energy (both engines via the same CASE).
  //
  // Scale shape: one frame explode (linear, 1/32 of bytes) + two
  // hash-aggregates on doc_id. No windows, no sorts.
  // ---------------------------------------------------------------------
  def mmAudioSnr(s: SparkSession, d: String): DataFrame = {
    val frameLen = 32
    val frames = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        expr(s"length(text) div $frameLen").cast("long").as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("text"), col("n_frames"),
        posexplode(sequence(lit(0L), col("n_frames") - 1)).as(Seq("ig", "f")))
      .select(col("doc_id"), col("text"), col("n_frames"), col("f"),
        posexplode(sequence(lit(0), lit(frameLen - 1))).as(Seq("ig2", "j")))
      .select(col("doc_id"), col("n_frames"), col("f"),
        (ascii(expr(s"substring(text, cast(f * $frameLen + j + 1 as int), 1)"))
          .cast("long") - 128L).as("v"))
      .groupBy("doc_id", "n_frames", "f")
      .agg(sum(col("v") * col("v")).as("energy"))
    val marked = frames
      .withColumn("tot", sum("energy").over(Window.partitionBy("doc_id")))
      .withColumn("speech", col("energy") * col("n_frames") > col("tot"))
    marked.groupBy("doc_id")
      .agg(max("n_frames").as("n_frames"),
        sum(when(col("speech"), 1L).otherwise(0L)).as("ns"),
        sum(when(col("speech"), col("energy")).otherwise(0L)).as("se"),
        sum(when(!col("speech"), 1L).otherwise(0L)).as("nn"),
        sum(when(!col("speech"), col("energy")).otherwise(0L)).as("ne"))
      .select(col("doc_id"), col("n_frames"),
        col("ns").as("n_speech"), col("nn").as("n_noise"),
        expr("""CASE WHEN ns > 0 AND nn > 0 AND ne > 0 AND se > 0
                THEN CAST(round(10000 * log10((CAST(se AS DOUBLE) * nn)
                     / (CAST(ne AS DOUBLE) * ns))) AS BIGINT) END""")
          .as("snr_db_milli"))
      .orderBy("doc_id")
  }

  private val mmAudioSnrSql =
    """WITH meta AS (
      |  SELECT doc_id, text, CAST(length(text) // 32 AS BIGINT) AS n_frames
      |  FROM documents WHERE length(text) // 32 > 0
      |), fr AS (
      |  SELECT doc_id, n_frames, f.f,
      |    CAST(sum((ascii(substr(text, CAST(f.f * 32 + j.j + 1 AS INT), 1))
      |      - 128) * (ascii(substr(text, CAST(f.f * 32 + j.j + 1 AS INT), 1))
      |      - 128)) AS BIGINT) AS energy
      |  FROM meta,
      |    LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS f) f,
      |    LATERAL (SELECT unnest(generate_series(0, 31)) AS j) j
      |  GROUP BY doc_id, n_frames, f.f
      |), marked AS (
      |  SELECT doc_id, n_frames, energy,
      |    energy * n_frames > CAST(sum(energy) OVER (PARTITION BY doc_id)
      |      AS BIGINT) AS speech
      |  FROM fr
      |), agg AS (
      |  SELECT doc_id, max(n_frames) AS n_frames,
      |    CAST(sum(CASE WHEN speech THEN 1 ELSE 0 END) AS BIGINT) AS ns,
      |    CAST(sum(CASE WHEN speech THEN energy ELSE 0 END) AS BIGINT) AS se,
      |    CAST(sum(CASE WHEN NOT speech THEN 1 ELSE 0 END) AS BIGINT) AS nn,
      |    CAST(sum(CASE WHEN NOT speech THEN energy ELSE 0 END) AS BIGINT)
      |      AS ne
      |  FROM marked GROUP BY doc_id
      |)
      |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames, ns AS n_speech,
      |  nn AS n_noise,
      |  CASE WHEN ns > 0 AND nn > 0 AND ne > 0 AND se > 0
      |    THEN CAST(round(10000 * log10((CAST(se AS DOUBLE) * nn)
      |         / (CAST(ne AS DOUBLE) * ns))) AS BIGINT) END AS snr_db_milli
      |FROM agg ORDER BY doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("mm_audio_snr", mmAudioSnr, Some(mmAudioSnrSql)),
    Q("mm_byte_histogram", mmByteHistogram, Some(mmByteHistogramSql)),
    Q("mm_audio_fingerprint", mmAudioFingerprint, Some(mmAudioFingerprintSql)),
    Q("mm_audio_vad", mmAudioVad, Some(mmAudioVadSql)),
    Q("mm_phash", mmPhash, Some(mmPhashSql)),
    Q("mm_image_neardup", mmImageNeardup, Some(mmImageNeardupSql)),
    Q("mm_video_shot_boundary", mmVideoShotBoundary, Some(mmVideoShotBoundarySql)),
    Q("mm_image_tile", mmImageTile, Some(mmImageTileSql)),
    Q("mm_decode_stats", mmDecodeStats, Some(mmDecodeStatsSql)),
    Q("mm_frame_sample", mmFrameSample, Some(mmFrameSampleSql)),
    Q("mm_audio_chunk", mmAudioChunk, Some(mmAudioChunkSql)),
    Q("mm_ahash", mmAhash, Some(mmAhashSql))
  )
}
