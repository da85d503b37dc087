package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with a typed metadata struct; decode /
  * feature-extract runs partition-wise so one task touches one batch of
  * payloads. LLM-pipeline extension; no reference counterpart.
  *
  * The actual codec step is pluggable ([[Decoder]]): this container has
  * no media libraries, so the shipped [[StubDecoder]] is a
  * clearly-marked deterministic fake — the Spark-side plumbing (schema,
  * partitioning, batch shape, column contracts) is real and tested.
  */
object Multimodal {

  /** Canonical media schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("payload", BinaryType),
    StructField("media_type", StringType),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", IntegerType),
      StructField("format", StringType)))),
  ))

  /** Feature record produced by decoding a payload. */
  val featureSchema: StructType = StructType(Seq(
    StructField("n_bytes", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("checksum", StringType),
  ))

  /** Pluggable codec: bytes -> (width, height). A real deployment
    * plugs an image/audio decoder here; decode failures return None and
    * the row is surfaced with null dimensions rather than killing the
    * task. */
  trait Decoder extends Serializable {
    def decodeDimensions(payload: Array[Byte]): Option[(Int, Int)]
  }

  /** Deterministic fake standing in for a real media codec (media libs
    * are unavailable in this container): dimensions derived from the
    * payload length so tests are stable. */
  object StubDecoder extends Decoder {
    def decodeDimensions(payload: Array[Byte]): Option[(Int, Int)] =
      if (payload == null || payload.isEmpty) None
      else Some((payload.length % 640 + 1, payload.length % 480 + 1))
  }

  /** Lift a text column into the media schema (payload = utf-8 bytes) —
    * the test-data stand-in for reading real media blobs. */
  def asMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      col(textCol).cast(BinaryType).as("payload"),
      lit("text/plain").as("media_type"),
      struct(
        octet_length(col(textCol)).as("n_bytes"),
        lit("utf-8").as("format")).as("meta"))

  /** Feature extraction through codegen'd built-in expressions — the
    * default path. Every feature the [[StubDecoder]] produces (byte
    * count, modular stub dimensions, md5 checksum) is expressible as a
    * Catalyst expression, so this stays inside whole-stage codegen over
    * the columnar scan: no SerializeFromObject, no per-row JVM object
    * churn. Null-payload rows surface with null dimensions/checksum and
    * n_bytes 0, matching the decoder path. Plug a REAL codec via
    * [[extractFeaturesWith]] — only genuine media decoding justifies
    * leaving codegen. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val len = octet_length(col("payload"))
    media.select(
      col("media_id"),
      coalesce(len, lit(0)).as("n_bytes"),
      when(len > 0, pmod(len, lit(640)) + 1).as("width"),
      when(len > 0, pmod(len, lit(480)) + 1).as("height"),
      md5(col("payload")).as("checksum"))
  }

  /** Frame sampling plumbing: `nFrames` evenly-spaced `frameBytes`-wide
    * byte windows of the payload, as an array<binary> column. This is
    * the Spark-side shape of video/audio frame extraction — schema,
    * per-row batching, and even spacing are real; a production codec
    * replaces the byte slicing with actual frame decoding. Pure
    * built-ins (`substr` on binary is codegen'd), map-only, no shuffle.
    * Payloads shorter than a stride yield overlapping/clamped windows;
    * null payloads yield null. */
  def sampleFrames(media: DataFrame, nFrames: Int, frameBytes: Int): DataFrame = {
    require(nFrames > 0 && frameBytes > 0)
    val len = octet_length(col("payload"))
    val stride = greatest((len / nFrames).cast(IntegerType), lit(1))
    media.select(
      col("media_id"),
      transform(sequence(lit(0), lit(nFrames - 1)),
        i => col("payload").substr(i * stride + 1, lit(frameBytes)))
        .as("frames"),
      len.as("n_bytes"))
  }

  /** Audio-style silence trimming at frame granularity — the
    * lead-in/lead-out removal stage of an audio ingestion pipeline
    * (and the crop-to-content stage of scanned images), expressed over
    * opaque binary payloads: the payload splits into consecutive
    * `frameBytes`-byte frames (last frame partial), a frame is SILENT
    * iff every byte equals `silentByte` (the container's deterministic
    * stand-in for an energy threshold — a real deployment swaps the
    * per-frame predicate for its codec's RMS, exactly like
    * [[Decoder]]), and leading/trailing silent frames are trimmed
    * while interior silence is kept (a pause is content; only the
    * edges are dead air).
    *
    * Everything is map-only codegen'd expressions over the hex
    * rendering of the payload — one row in, one row out, no shuffle,
    * no UDF; cost O(n_frames + payload bytes) per row. A payload that
    * is entirely silent (or empty) reports NULL frame bounds and an
    * empty trim — never a negative-length slice.
    *
    * Returns (`media_id`, `n_frames`, `first_frame`, `last_frame`,
    * `trimmed_md5`) — frame indices 0-based inclusive, md5 over the
    * trimmed payload's hex so the gate covers the exact surviving
    * bytes. */
  def trimSilence(
      media: DataFrame,
      frameBytes: Int,
      silentByte: Int = 0x20): DataFrame = {
    require(frameBytes >= 1, s"frameBytes ($frameBytes) must be >= 1")
    require(silentByte >= 0 && silentByte <= 255,
      s"silentByte ($silentByte) must be a byte")
    val hexSilent = f"$silentByte%02X"
    val fb = frameBytes
    val hexs = upper(hex(col("payload")))
    val len = octet_length(col("payload"))
    val nf = ceil(len.cast("double") / fb).cast("int")
    // sequence(0, -1) would DESCEND — an empty payload needs an
    // explicitly empty frame list, not frames [0, -1]
    // flags = ACTIVE per frame (a frame with any non-silent byte)
    val flags = when(nf <= 0, array().cast("array<boolean>"))
      .otherwise(transform(sequence(lit(0), nf - 1),
        i => !hexs.substr(i * (2 * fb) + 1, lit(2 * fb))
          .rlike(s"^($hexSilent)*$$")))
    val faPos = array_position(flags, true) // 1-based, 0 when absent
    val laPos = nf - array_position(reverse(flags), true) + 1
    media.select(
      col("media_id"),
      nf.cast("long").as("n_frames"),
      when(faPos === 0, lit(null)).otherwise(faPos - 1).as("first_frame"),
      when(faPos === 0, lit(null)).otherwise(laPos.cast("long") - 1)
        .as("last_frame"),
      md5(when(faPos === 0, lit(""))
        .otherwise(hexs.substr((faPos.cast("int") - 1) * (2 * fb) + 1,
          (laPos.cast("int") - faPos.cast("int") + 1) * (2 * fb))))
        .as("trimmed_md5"))
  }

  /** Resize planning: target dimensions that fit (maxW, maxH)
    * preserving aspect ratio, never upscaling — the real Spark-side
    * arithmetic of a resize stage, over the feature frame
    * ([[extractFeatures]] output). The pixel resampling itself is the
    * pluggable codec step ([[Decoder]]) this container stubs; a real
    * deployment maps the planned (target_width, target_height) through
    * its image library partition-wise. All codegen'd expressions,
    * map-only. Null dimensions (undecodable payloads) stay null. */
  def resizePlan(features: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    require(maxW > 0 && maxH > 0)
    // least/greatest SKIP nulls, so undecodable rows (null dims) must
    // be gated explicitly or they'd silently plan a 1x1 "resize".
    val decodable = col("width").isNotNull && col("height").isNotNull
    val scale = when(decodable, least(
      lit(maxW.toDouble) / col("width"),
      lit(maxH.toDouble) / col("height"),
      lit(1.0)))
    features
      .withColumn("scale", scale)
      .withColumn("target_width",
        when(decodable,
          greatest(floor(col("width") * col("scale")), lit(1)).cast(IntegerType)))
      .withColumn("target_height",
        when(decodable,
          greatest(floor(col("height") * col("scale")), lit(1)).cast(IntegerType)))
  }

  /** Append the dHash-style 64-bit perceptual signature of each
    * payload ([[graft.expressions.DHash64]], native codegen'd): the
    * gradient hash behind image near-dup detection, computed here over
    * the raw bytes as the container's deterministic decode stand-in
    * (a real deployment hashes the decoded grayscale plane with the
    * identical grid/gradient step — the downstream pipeline is
    * unchanged). Map-only; NULL payloads get a NULL signature. */
  def withDHash(media: DataFrame, outCol: String = "dhash",
      payloadCol: String = "payload"): DataFrame =
    media.withColumn(outCol,
      graft.expressions.GraftFunctions.dhash64(media, col(payloadCol)))

  /** Perceptual near-duplicate pairs over the media frame: dHash
    * signatures banded through the SHARED Hamming-LSH machinery
    * ([[Dedup.hammingBandedPairs]] — the SimHash text path's back
    * half), verified with exact Hamming distance. Extends dedup beyond
    * text: near-identical payloads (few gradient bits apart) surface
    * as (id_a, id_b, hamming) pairs with the same pigeonhole recall
    * guarantee (`maxHamming <= bands - 1` means a qualifying pair
    * ALWAYS collides in at least one band), the same count-first
    * `maxBucket` skew guard (loud by default, `dropOversize` to
    * trade recall), and the same one-shuffle scale shape: signature is
    * one map-side expression per payload, banding ships 8 bytes/row,
    * pair expansion is bucket-local. NULL payloads carry no signature
    * and never pair. */
  def dHashNearDupPairs(
      media: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Int = 1000,
      dropOversize: Boolean = false,
      idCol: String = "media_id",
      payloadCol: String = "payload"): DataFrame = {
    val sigs = media.select(col(idCol).as("id"),
        graft.expressions.GraftFunctions.dhash64(media, col(payloadCol)).as("sim"))
      .filter(col("sim").isNotNull)
    Dedup.hammingBandedPairs(sigs, width = 64, bands, maxHamming, maxBucket,
      dropOversize, label = s"dhash64/$bands-band")
  }

  /** VIDEO-style near-duplicate pairs over FRAME-SIGNATURE SETS: each
    * payload is sampled into [[sampleFrames]]' evenly-spaced frames,
    * every frame gets its [[graft.expressions.DHash64]] perceptual
    * signature, and two media pair when the Jaccard similarity of
    * their DISTINCT frame-signature sets reaches `threshold` — the
    * re-encoded/trimmed-copy recipe, where single-image dHash
    * ([[dHashNearDupPairs]]) fails because no one byte range survives
    * but most frames still look alike.
    *
    * Scale shape: frames and signatures are map-only; candidates meet
    * in ONE equi join on PREFIX signatures — the PPJoin prefix filter
    * (Xiao et al., WWW'08; the set analog of [[Apss]]' Bayardo
    * pruning): with every media's signature set ordered by one global
    * (frequency asc, signature) rank, a pair with Jaccard >= t MUST
    * share a signature within each side's first `sz - ceil(t*sz) + 1`
    * elements, so only those prefixes are joined and the corpus-wide
    * boilerplate signatures (a black frame, a standard intro card —
    * by definition the most FREQUENT) fall out of the prefixes
    * entirely. The raw frequency table still backs the count-first
    * hot-frame guard: a signature shared by more than `maxFrameBucket`
    * media is counted BEFORE any pair expansion and fails loudly — or
    * is dropped with `dropOversize`, trading recall for survival
    * exactly like the LSH family (the drop removes the signature
    * CLASS from the universe: set sizes and overlaps are both
    * computed over the surviving signatures, so a pair's Jaccard
    * stays self-consistent rather than mixing a filtered numerator
    * with an unfiltered denominator). The prefix cutoff subtracts a 1e-9
    * margin before the ceiling so an IEEE wobble can only LENGTHEN a
    * prefix (harmless), never shorten one (a lost pair). Verification
    * is per-pair and shuffle-free past two media-bounded joins: each
    * media's full signature set rides once as a sorted long array and
    * the exact overlap is one
    * [[graft.expressions.SortedIntersectCount]] merge walk — the
    * naive signature self-join was measured generating 14M
    * intermediate pair rows at sf0.1 from 650 distinct signatures
    * where the prefix join generates thousands. The Jaccard filter is
    * exact integer arithmetic over shared/distinct counts.
    *
    * Output: (id_a, id_b, n_shared, n_a, n_b, jaccard), id_a < id_b.
    */
  def frameNearDupPairs(
      media: DataFrame,
      nFrames: Int = 8,
      frameBytes: Int = 16,
      threshold: Double = 0.6,
      maxFrameBucket: Int = 1000,
      dropOversize: Boolean = false,
      idCol: String = "media_id",
      payloadCol: String = "payload"): DataFrame = Blocks.scoped { s =>
    // below ~2 bytes per 9-cell grid row the gradient is flat and every
    // frame dHashes to 0, collapsing all sets to {0} (pinned by spec)
    require(nFrames > 0 && frameBytes >= 16,
      s"frame plan must be positive with frameBytes >= 16 (got $frameBytes): " +
        "a dHash grid row spanning a single byte has no gradient")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold ($threshold) must be in (0, 1]")
    require(maxFrameBucket >= 2,
      s"maxFrameBucket ($maxFrameBucket) must be >= 2 — below 2 every " +
        "shared signature would be dropped and no pair could ever form")
    val prepared = media.select(col(idCol).as("media_id"),
      col(payloadCol).as("payload"))
    // Materialized ONCE: the signature table is media-bounded (≤
    // nFrames longs per media, never payload-sized) and BOTH the
    // hot-frame count and the guard join consume it — without the
    // checkpoint each consumer re-scanned every payload and re-ran
    // frame sampling + dHash (the query's most expensive map work).
    val fh = s.checkpoint(sampleFrames(prepared.filter(col("payload").isNotNull),
        nFrames, frameBytes)
      .select(col("media_id"), explode(col("frames")).as("__f"))
      .select(col("media_id"),
        graft.expressions.GraftFunctions.dhash64(prepared, col("__f")).as("fh"))
      .distinct())
    val hot = fh.groupBy("fh").agg(count(lit(1)).as("__n"))
    val guarded = fh.join(
      if (dropOversize) hot.filter(col("__n") <= maxFrameBucket)
      else hot.select(col("fh"), col("__n"),
          when(col("__n") > maxFrameBucket, raise_error(concat(
            lit(s"frameNearDupPairs: frame signature "),
            col("fh").cast("string"),
            lit(s" appears in more than $maxFrameBucket media ("),
            col("__n").cast("string"),
            lit(") — drop boilerplate frames upstream or set dropOversize"))))
            .otherwise(lit(true)).as("__chk"))
        .filter(col("__chk")).select("fh", "__n"),
      Seq("fh"))
    // one media-bounded aggregation carries BOTH orders: signatures by
    // the global (frequency asc, signature) rank for the prefix, and
    // by VALUE for the sorted-merge verification kernel
    // Also media-bounded (one row per media, two ≤ nFrames arrays) and
    // consumed FOUR times (both prefix-join sides, both verification
    // set sides) — checkpointed so the guard join + per-media
    // aggregation run once instead of per consumer.
    val perMedia = s.checkpoint(guarded.groupBy("media_id").agg(
        sort_array(collect_list(struct(col("__n"), col("fh")))).as("__byrank"),
        sort_array(collect_list(col("fh"))).as("__sigs"))
      .withColumn("__sz", size(col("__sigs")))
      .withColumn("__plen",
        col("__sz") -
          ceil(lit(threshold) * col("__sz") - lit(1e-9)).cast("int") + 1))
    val prefixes = perMedia.select(col("media_id"),
      explode(slice(transform(col("__byrank"), s => s.getField("fh")),
        lit(1), col("__plen"))).as("fh"))
    val pairs = prefixes.alias("x").join(prefixes.alias("y"),
        col("x.fh") === col("y.fh") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"))
      .distinct()
    val sets = perMedia.select(col("media_id"), col("__sigs"), col("__sz"))
    pairs
      .join(sets.select(col("media_id").as("id_a"), col("__sigs").as("__sa"),
        col("__sz").as("n_a")), "id_a")
      .join(sets.select(col("media_id").as("id_b"), col("__sigs").as("__sb"),
        col("__sz").as("n_b")), "id_b")
      .withColumn("n_shared",
        graft.expressions.GraftFunctions.sortedIntersect(media,
          col("__sa"), col("__sb")).cast("long"))
      .withColumn("n_a", col("n_a").cast("long"))
      .withColumn("n_b", col("n_b").cast("long"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_shared", "n_a", "n_b", "jaccard")
  }

  /** Shot-boundary detection over a video-style payload: the payload
    * samples into [[sampleFrames]]' evenly-spaced frames IN ORDER,
    * every frame gets its [[graft.expressions.DHash64]] perceptual
    * signature, and a boundary falls between consecutive frames whose
    * signature Hamming distance exceeds `maxHamming` — the standard
    * cut-detection recipe (adjacent frames of one shot are visually
    * near-identical; a cut is a signature jump), expressed over opaque
    * binary so the decode stays pluggable like the rest of this
    * module.
    *
    * Scale shape: frames and signatures are map-only codegen'd
    * expressions; the consecutive-frame comparison is a LAG window
    * partitioned by media (nFrames rows per partition key — never a
    * global sort); the rollup is one media-keyed aggregation. One row
    * per media: (`media_id`, `n_frames`, `n_boundaries`,
    * `boundary_frames` — the 0-based indexes of each boundary's FIRST
    * frame-after-cut, ascending, empty when the payload is one shot).
    * NULL payloads produce no row (no frames, no shots). */
  def shotBoundaries(
      media: DataFrame,
      nFrames: Int = 8,
      frameBytes: Int = 16,
      maxHamming: Int = 8,
      idCol: String = "media_id",
      payloadCol: String = "payload"): DataFrame = {
    require(nFrames >= 2, s"nFrames ($nFrames) must be >= 2 — one frame has no cuts")
    require(frameBytes >= 16,
      s"frameBytes ($frameBytes) must be >= 16 (a dHash grid row " +
        "spanning a single byte has no gradient)")
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming ($maxHamming) must be in [0, 64)")
    val prepared = media.select(col(idCol).as("media_id"),
      col(payloadCol).as("payload"))
    val sigs = sampleFrames(prepared.filter(col("payload").isNotNull),
        nFrames, frameBytes)
      .select(col("media_id"), posexplode(col("frames")).as(Seq("__i", "__f")))
      .select(col("media_id"), col("__i"),
        graft.expressions.GraftFunctions.dhash64(prepared, col("__f")).as("__sig"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("__i")
    sigs
      .withColumn("__prev", lag(col("__sig"), 1).over(w))
      .withColumn("__cut",
        col("__prev").isNotNull &&
          bit_count(col("__sig").bitwiseXOR(col("__prev"))) > maxHamming)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("__cut"), 1L).otherwise(0L)).as("n_boundaries"),
        sort_array(collect_list(when(col("__cut"), col("__i"))))
          .as("boundary_frames"))
  }

  /** Partition-wise feature extraction with a pluggable codec: one
    * decoder instance per task, payloads processed in iterator order
    * (constant memory — no collect, no per-row decoder setup). Output =
    * media_id + features. Use only for real codecs; stub-expressible
    * features should go through [[extractFeatures]] (codegen'd). */
  def extractFeaturesWith(media: DataFrame, decoder: Decoder): DataFrame = {
    val out = StructType(StructField("media_id", LongType) +: featureSchema.fields.toSeq)
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val dims = decoder.decodeDimensions(payload)
        Row(
          r.getLong(idIdx),
          if (payload == null) 0 else payload.length,
          dims.map(_._1).orNull,
          dims.map(_._2).orNull,
          if (payload == null) null
          else java.security.MessageDigest.getInstance("MD5")
            .digest(payload).map("%02x".format(_)).mkString)
      }
    }(Encoders.row(out))
  }
}
