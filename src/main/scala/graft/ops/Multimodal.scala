package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.vecDot

/** Multimodal columns for a training-data pipeline (builder mandate —
  * NOT in the reference, which is text/JSON only).
  *
  * Representation: media as opaque BINARY content plus a typed metadata
  * struct — the layout every large-scale multimodal corpus uses (content
  * survives any codec; metadata is columnar and prunable, so scans that
  * only need width/height/codec never touch the bytes).
  *
  * The codec step itself (JPEG decode, audio resample, …) requires
  * native libraries not present in this container, so `decodeStub`
  * produces a DETERMINISTIC FAKE: a seeded byte expansion of the content
  * hash. Everything around it — schema, batching, partition-local
  * processing, feature shape — is real, tested Spark plumbing; swapping
  * the fake for libjpeg is a one-function change inside the mapPartitions.
  */
object Multimodal {

  /** One media asset row. `content` is the opaque payload; metadata
    * columns are typed and independently prunable.
    */
  final case class MediaAsset(
      asset_id: Long,
      media_type: String, // image | audio | video
      codec: String,
      width: Int,
      height: Int,
      duration_ms: Long,
      content: Array[Byte])

  final case class MediaFeature(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      frames_sampled: Int,
      embedding: Array[Float])

  /** Deterministic synthetic asset table (stand-in for a real ingest).
    * Metadata uses plain modular arithmetic (SQL-replicable, so the
    * oracle can verify everything but the payload); content bytes are a
    * seeded hash expansion. Identical across runs, partition counts and
    * cluster sizes.
    */
  def syntheticAssets(spark: SparkSession, n: Long = 1000L): Dataset[MediaAsset] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val t = (i % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val len = (64 + (i * 31) % 192).toInt
      val bytes = Array.tabulate[Byte](len)(j => (mix(i, j.toLong + 2) & 0xff).toByte)
      MediaAsset(i, t, if (t == "image") "jpeg" else "opus",
        (64 + (i * 37) % 64).toInt, (64 + (i * 53) % 64).toInt,
        if (t == "image") 0L else 1000L + (i * 97) % 9000L, bytes)
    }
  }

  private def mix(a: Long, b: Long): Long = {
    var x = a * -7046029254386353131L + b
    x ^= (x >>> 33); x *= -4417276706812531889L; x ^= (x >>> 29)
    x
  }

  /** STUB — the real implementation decodes `content` with a codec
    * library (not available in this container). The fake derives
    * `dim` floats deterministically from the bytes, preserving the real
    * signature: bytes → fixed-width float feature vector.
    */
  private[ops] def decodeStub(content: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      var h = mix(content.length.toLong, i.toLong)
      var j = i
      while (j < content.length) { h = mix(h, content(j).toLong); j += dim }
      out(i) = ((h % 2000L) / 1000.0f)
      i += 1
    }
    out
  }

  /** Frame sampling policy: images contribute 1 frame, audio/video one
    * frame per second of duration, capped.
    */
  private[ops] def frameCount(mediaType: String, durationMs: Long, cap: Int = 16): Int =
    mediaType match {
      case "image" => 1
      case _ => math.min(cap, math.max(1, (durationMs / 1000L).toInt))
    }

  /** Partition-local batch feature extraction: the Scala twin of an
    * Arrow-batched decode UDF. Runs entirely inside each partition (no
    * shuffle, no driver involvement) — at 100 TB this scales with input
    * splits, and the per-partition loop is where a real decoder would
    * amortize its native context across rows.
    */
  def extractFeatures(assets: Dataset[MediaAsset], dim: Int = 16): Dataset[MediaFeature] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition decoder context would be initialized here once
      it.map { a =>
        MediaFeature(a.asset_id, a.media_type, a.content.length.toLong,
          frameCount(a.media_type, a.duration_ms), decodeStub(a.content, dim))
      }
    }
  }

  /** Frame-sampling PLAN: expand each temporal asset into the frame rows
    * a decoder would extract — one row per sampled frame with its time
    * offset and the byte slice [byte_offset, byte_offset + frame_bytes)
    * of the payload it would decode. Images contribute their single
    * frame. This is the fan-out stage in front of any frame-level model
    * (CLIP-style embedding, OCR, ASR windows); the decode itself stays
    * the documented codec stub.
    *
    * Shape: row-local `sequence` explode with a hard `cap` — fan-out is
    * bounded per asset by construction, so the expansion scales linearly
    * and can never replay the pathological long-video blowup. Byte
    * slices use floor-division endpoints ((i·n) div f), which tile the
    * payload EXACTLY — no remainder bytes lost, no overlap — and are
    * SQL-replicable for the oracle.
    */
  def sampleFrames(
      assets: Dataset[MediaAsset],
      everyMs: Long = 1000L,
      cap: Int = 16): DataFrame = {
    require(everyMs > 0 && cap >= 1)
    assets.toDF()
      .select(col("asset_id"), col("media_type"), col("duration_ms"),
        length(col("content")).cast("long").as("n_bytes"))
      .withColumn("nf",
        when(col("media_type") === "image", lit(1L))
          .otherwise(least(lit(cap.toLong),
            greatest(lit(1L), expr(s"duration_ms div $everyMs")))))
      .select(col("asset_id"), col("media_type"), col("n_bytes"), col("nf"),
        explode(expr("sequence(0L, nf - 1)")).as("frame_idx"))
      .select(col("asset_id"), col("media_type"),
        col("frame_idx").cast("long").as("frame_idx"),
        (col("frame_idx") * everyMs).cast("long").as("offset_ms"),
        expr("frame_idx * n_bytes div nf").as("byte_offset"),
        expr("(frame_idx + 1) * n_bytes div nf - frame_idx * n_bytes div nf")
          .as("frame_bytes"))
      .orderBy(col("asset_id"), col("frame_idx"))
  }

  final case class ResizedAsset(
      asset_id: Long,
      media_type: String,
      width: Int,
      height: Int,
      n_bytes_out: Long,
      content: Array[Byte])

  /** Fit-within resize for spatial media (image/video); audio passes
    * through untouched. All metadata math is INTEGER (per-mille scale,
    * floor division) so the oracle can replicate it exactly; the pixel
    * resample itself is the documented codec stub (deterministic byte
    * expansion sized from the target dims). Partition-local like
    * [[extractFeatures]] — no shuffle, scales with input splits.
    */
  def resizeAssets(
      assets: Dataset[MediaAsset],
      maxW: Int = 96,
      maxH: Int = 96): Dataset[ResizedAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        if (a.media_type == "audio")
          ResizedAsset(a.asset_id, a.media_type, a.width, a.height,
            a.content.length.toLong, a.content)
        else if (a.width <= 0 || a.height <= 0)
          // degenerate dims: the per-mille math below would divide by
          // zero — emit 0x0 with the 16-byte floor instead of failing
          // the whole job on one malformed row
          ResizedAsset(a.asset_id, a.media_type, 0, 0, 16L,
            Array.tabulate[Byte](16)(j => (mix(a.asset_id, j.toLong + 3) & 0xff).toByte))
        else {
          // per-mille scale, never upscale; floor division throughout
          val scale = math.min(1000L,
            math.min(maxW * 1000L / a.width, maxH * 1000L / a.height))
          val nw = (a.width * scale / 1000L).toInt
          val nh = (a.height * scale / 1000L).toInt
          val nOut = math.max(16L, nw.toLong * nh / 64L)
          val bytes = Array.tabulate[Byte](nOut.toInt)(j =>
            (mix(a.asset_id, j.toLong + 3) & 0xff).toByte) // resample stub
          ResizedAsset(a.asset_id, a.media_type, nw, nh, nOut, bytes)
        }
      }
    }
  }

  /** Metadata-only profile — must never read the `content` bytes (column
    * pruning keeps the scan narrow; verified in the spec via the plan's
    * ReadSchema).
    */
  def mediaProfile(assets: DataFrame): DataFrame =
    assets
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n_assets"),
        round(avg(col("width") * col("height")), 4).as("avg_pixels"),
        sum(col("duration_ms")).as("total_duration_ms"))
      .orderBy(col("media_type"))

  /** Downstream proof: extracted features flow into the similarity
    * operators unchanged (same ARRAY<FLOAT> contract as `embeddings`).
    */
  def nearestAssets(features: DataFrame, queryId: Long, k: Int = 5): DataFrame = {
    val q = features.filter(col("asset_id") === queryId)
      .select(col("embedding").as("q_emb"))
    features.filter(col("asset_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", Dedup.cosine(col("q_emb"), col("embedding")))
      .select(col("asset_id"), round(col("cos"), 4).as("cos"))
      .orderBy(desc("cos"), col("asset_id"))
      .limit(k)
  }

  /** Perceptual near-dup over media: sign-bit hash of the decoded
    * feature vector (one bit per dim, first 63 dims — the top bit stays
    * zero so the ANSI-checked `acc * 2` fold can never overflow, same
    * constant-zero-high-bits shape as the 60-bit text SimHash), then the
    * pigeonhole-complete Hamming chunk join shared with text SimHash
    * ([[Dedup.hammingPairs]]). With a real perceptual decoder, visually
    * near-identical assets land within a few bits (classic pHash); with
    * this container's deterministic stub the embedding is
    * content-avalanched, so only byte-identical payloads collide — which
    * is what makes the planted-twin query exactly oracle-able. The sig
    * is row-local Column algebra (fold over the array, no UDF); the
    * pair join moves (id, sig, chunk byte) only, never embeddings.
    */
  /** WebDataset-style shard planning: assign assets, in id order, to
    * fixed-capacity output shards by CUMULATIVE byte position — the
    * layout step that turns a blob column into the tar-shard files a
    * multimodal training loader streams. `shard = cum_before div C`
    * keeps every shard ≤ one asset over capacity with zero
    * bin-packing search, and id-ordered assignment keeps the plan
    * deterministic and append-friendly (new assets only ever extend the
    * tail shard).
    *
    * Shape at 100 TB: the prefix sum is [[Scan.exclusive]] with no key
    * (`blockWidth` is its block width); the asset table never rides a
    * single-partition window. The report aggregates onto the shard
    * dimension.
    */
  def shardPlan(
      assets: DataFrame,
      shardCapacityBytes: Long = 4096L,
      blockWidth: Long = 256L): DataFrame = {
    val sized = assets.select(col("asset_id"),
      length(col("content")).cast("long").as("n_bytes"))
    Scan.exclusive(sized, Nil, "asset_id", "n_bytes", blockWidth, Scan.Sum,
        "cum_before")
      .withColumn("shard_id",
        expr(s"cum_before div $shardCapacityBytes"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("asset_id")).as("first_asset"),
        max(col("asset_id")).as("last_asset"))
      .withColumn("fill_e4",
        expr(s"shard_bytes * 10000 div $shardCapacityBytes"))
      .orderBy(col("shard_id"))
  }

  def mediaNearDup(features: DataFrame, maxDist: Int = 3): DataFrame = {
    // fold dims high→low: acc*2 + sign bit, so bit j = (embedding[j] > 0)
    val sig = aggregate(
      sequence(least(size(col("embedding")), lit(63)) - 1, lit(0), lit(-1)),
      lit(0L),
      (acc, j) => acc * 2 +
        when(element_at(col("embedding"), j + 1) > 0f, 1L).otherwise(0L))
    val sigDf = features
      .select(col("asset_id").as("id"), sig.as("sig"))
      .persist()
    Dedup.hammingPairs(sigDf, maxDist)
      .select(col("id_a").as("asset_a"), col("id_b").as("asset_b"), col("hamming"))
      .orderBy(col("asset_a"), col("asset_b"))
  }
}
