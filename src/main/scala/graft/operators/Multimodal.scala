package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints._
import graft.sources.Tables

/** A media record: opaque binary payload + typed metadata — the
  * multimodal column pattern (image/audio/video as `binary` with a
  * sidecar metadata struct). Payloads here are deterministic fakes
  * (utf-8 of the document text) because no codec libraries exist in
  * this environment; the Spark-side plumbing — schema, typed Dataset,
  * partition-batched decode — is real.
  */
case class MediaRec(doc_id: Long, fmt: String, width: Int, height: Int,
    payload: Array[Byte])

/** Features extracted by the (stubbed) decoder. */
case class MediaFeat(doc_id: Long, fmt: String, width: Int, height: Int,
    payload_len: Int, brightness_milli: Long)

/** One sampled "frame" of a media payload. */
case class FrameFeat(doc_id: Long, frame_no: Int, frame_len: Int,
    mean_milli: Long)

/** A resized media record (stub decimation, real plumbing). */
case class ResizedMedia(doc_id: Long, new_w: Int, new_h: Int,
    new_len: Int, resized: Array[Byte])

/** Multimodal-column processing: binary payloads with typed metadata,
  * decoded per partition in batches — the Scala analog of a
  * `mapInPandas` batch UDF. The decode itself is a STUB (deterministic
  * fake features over the payload bytes — real image/audio codecs are
  * not available in this container); everything around it — the typed
  * `Dataset[MediaRec]`, the `mapPartitions` batch shape, the exact
  * integer feature math — is the production plumbing.
  *
  * Scale: decode is row-local (`mapPartitions`, no shuffle) and
  * batch-amortised — at 100 TB the decoder initialises once per task,
  * not once per record, which is the whole point of the batched shape.
  */
object Multimodal extends graft.Module {

  /** documents → media records: binary payload + metadata columns. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRec] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      col("doc_id"),
      lit("fake_rgb8").as("fmt"),
      ((col("n_chars") % 64 + 1) * 10).cast("int").as("width"),
      ((col("n_chars") % 48 + 1) * 10).cast("int").as("height"),
      encode(col("text"), "UTF-8").as("payload")).as[MediaRec]
  }

  /** STUB DECODER — deterministic fake. A real deployment would open a
    * codec once per partition (the expensive init this batched shape
    * amortises) and emit real features; here "brightness" is the mean
    * of the first 16 payload bytes in milli-units, exact integer math
    * so the DuckDB oracle can reproduce it from the source text.
    */
  private def decodeBatch(batch: Iterator[MediaRec]): Iterator[MediaFeat] =
    batch.map { r =>
      val n = math.min(16, r.payload.length)
      var s = 0L
      var i = 0
      while (i < n) { s += (r.payload(i) & 0xFF); i += 1 }
      MediaFeat(r.doc_id, r.fmt, r.width, r.height, r.payload.length,
        if (n == 0) 0L else s * 1000L / n)
    }

  /** q25: the end-to-end multimodal pipeline — build media records,
    * batch-decode features per partition.
    */
  def multimodal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions(decodeBatch).toDF()
  }

  private val FrameBytes = 32
  private val SampleStride = 4 // keep every 4th frame

  /** STUB FRAME SAMPLER — the video half of the multimodal pattern:
    * treat the payload as fixed-size frames, keep every k-th frame,
    * emit per-frame features. One input record fans out to many rows
    * (the flatMap batch shape a real frame decoder needs); sampling
    * happens BEFORE feature extraction, so skipped frames cost
    * nothing — the property that matters when a real decoder is the
    * expensive step.
    */
  private def sampleFrames(batch: Iterator[MediaRec]): Iterator[FrameFeat] =
    batch.flatMap { r =>
      val nFrames = (r.payload.length + FrameBytes - 1) / FrameBytes
      Iterator.range(0, nFrames, SampleStride).map { f =>
        val off = f * FrameBytes
        val len = math.min(FrameBytes, r.payload.length - off)
        var s = 0L
        var i = 0
        while (i < len) { s += (r.payload(off + i) & 0xFF); i += 1 }
        FrameFeat(r.doc_id, f, len, if (len == 0) 0L else s * 1000L / len)
      }
    }

  /** q32: frame sampling over the media table. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions(sampleFrames).toDF()
  }

  /** STUB RESIZER — half-size nearest-neighbour decimation: keep every
    * 2nd payload byte and halve the metadata dims (what a real
    * per-axis image downsample does, stubbed on the 1-D fake payload).
    * The resized payload itself is verified: the query returns its md5
    * and the oracle recomputes the same hash from the source text.
    */
  private def resizeBatch(batch: Iterator[MediaRec]): Iterator[ResizedMedia] =
    batch.map { r =>
      val out = new Array[Byte]((r.payload.length + 1) / 2)
      var i = 0
      while (i < out.length) { out(i) = r.payload(2 * i); i += 1 }
      ResizedMedia(r.doc_id, (r.width + 1) / 2, (r.height + 1) / 2,
        out.length, out)
    }

  /** q41: media resize (metadata + payload, md5-checked). */
  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions(resizeBatch).toDF()
      .select(col("doc_id"), col("new_w"), col("new_h"), col("new_len"),
        md5(col("resized")).as("resized_md5"))
  }

  private val PhBits = 60 // perceptual-hash width (md5_prefix60 convention)
  private val PhBands = 6 // LSH bands over the hash
  private val PhBandBits = 10 // bits per band
  private val PhHamT = 10 // near-dup hamming threshold (data-calibrated:
  // the 4 candidate pairs at sf0.01 all share a band; ≥12 admits
  // pairs the bands start missing)

  /** STUB PERCEPTUAL HASH — average-hash (aHash) over the decoded
    * payload: [[PhBits]] blocks, bit b = 1 iff block b's mean byte ≥
    * the global mean (integer cross-multiplied, division-free). A real
    * deployment hashes decoded pixels (DCT for pHash); the stub hashes
    * the fake payload bytes with the same block structure, exact
    * integer math so the oracle replays it from the source text.
    * Empty blocks (payload shorter than [[PhBits]]) set the bit on
    * both engines (0 ≥ 0).
    */
  private[graft] def phashBatch(batch: Iterator[MediaRec]): Iterator[(Long, Long)] =
    batch.map { r =>
      val n = r.payload.length
      var s = 0L
      var i = 0
      while (i < n) { s += (r.payload(i) & 0xFF); i += 1 }
      var h = 0L
      var b = 0
      while (b < PhBits) {
        val lo = b.toLong * n / PhBits
        val hi = (b + 1).toLong * n / PhBits
        var bs = 0L
        var j = lo
        while (j < hi) { bs += (r.payload(j.toInt) & 0xFF); j += 1 }
        if (bs * n >= s * (hi - lo)) h |= (1L << b)
        b += 1
      }
      (r.doc_id, h)
    }

  /** q110: PERCEPTUAL-HASH NEAR-DUP — image dedup the way a training
    * pipeline runs it at corpus scale: batch-decode each media payload
    * to a compact [[PhBits]]-bit perceptual hash (one pass, row-local),
    * then find near-duplicate pairs by hamming distance ≤ [[PhHamT]] —
    * WITHOUT the all-pairs comparison: candidates must share one of
    * [[PhBands]] exact [[PhBandBits]]-bit bands (q15's banded-LSH shape
    * on hash substrings), so candidate generation is an equi-join on
    * band keys and the hamming check runs on band-collisions only.
    * Missed pairs (≤ threshold but no shared band) are the documented
    * LSH trade-off; the oracle implements the identical band
    * requirement, so both engines agree exactly.
    *
    * Scale: the corpus ships one 8-byte hash per image to the band
    * join — the whole dedup index for a billion images is ~50 GB,
    * shuffled on band keys; decoded pixels never leave their task.
    */
  def phashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ph = mediaTable(spark, dir).mapPartitions(phashBatch)
      .toDF("doc_id", "phash")
      .cp() // both band sides + the verify
    val bands = ph.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(PhBands - 1))).as("b"))
      .select(col("doc_id"), col("phash"),
        concat_ws(":", col("b"),
          expr(s"shiftright(phash, CAST(b * $PhBandBits AS INT))" +
            s" & ${(1 << PhBandBits) - 1}")).as("bkey"))
    bands.as("x").join(bands.as("y"), "bkey")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.phash").as("ha"),
        col("y.doc_id").as("doc_b"), col("y.phash").as("hb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") <= PhHamT)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  private val MbImage = 2L // image slots per composed batch
  private val MbText = 6L // text slots per composed batch

  /** q203: MODALITY-RATIO BATCH COMPOSITION — interleaved multimodal
    * training wants every loader batch at a FIXED modality mix (here
    * [[MbImage]] image + [[MbText]] text slots); a random shuffle
    * only hits that ratio in expectation, with high-variance batches
    * at the tail. Composition: modality is the deterministic
    * `doc_id % 4` fake (the container has no real media), each
    * modality is independently hash-shuffled and ranked, and batch b
    * takes image ranks [2b, 2b+2) and text ranks [6b, 6b+6) — exact
    * quotas, append-stable, no coordination between modalities. The
    * audit emits per-batch modality counts and a completeness flag
    * (tail batches go underfull when one modality's supply runs dry —
    * the rows a loader drops or pads).
    *
    * Scale: ONE range exchange ranks both modalities (the q55
    * two-phase ranker over (modality, salt)); per-modality positions
    * are the global rank minus a 2-row broadcast offset; the batch
    * math is row-local and the audit is one batch-grain aggregate.
    */
  def modalBatches(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("modality",
        when(col("doc_id") % 4 === 0, "image").otherwise("text"))
      .withColumn("h", graft.functions.HashOps.md5_prefix60(
        concat(lit("mb:"), col("doc_id").cast("string"))))
    val ranked = Relational.withGlobalRank(d,
      Seq(col("modality").asc, col("h").asc, col("doc_id").asc))
    val offs = ranked.groupBy(col("modality")).agg(min(col("rnk")).as("base"))
    ranked.join(broadcast(offs), "modality")
      .withColumn("quota", when(col("modality") === "image",
        lit(MbImage)).otherwise(lit(MbText)))
      .withColumn("batch", expr("(rnk - base) DIV quota"))
      .groupBy(col("batch"))
      .agg(sum((col("modality") === "image").cast("long")).as("n_image"),
        sum((col("modality") === "text").cast("long")).as("n_text"))
      .withColumn("complete",
        (col("n_image") === MbImage && col("n_text") === MbText).cast("int"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q110_phash_dedup" -> phashDedup,
    "q25_multimodal" -> multimodal,
    "q32_frame_sample" -> frameSample,
    "q41_media_resize" -> mediaResize,
    "q203_modal_batches" -> modalBatches)

  // The payload is utf-8 of ASCII text, so payload bytes == ascii codes
  // of the text characters and the oracle can be expressed over `text`.
  private val multimodalSql =
    """SELECT doc_id, 'fake_rgb8' AS fmt,
      |  CAST(((n_chars % 64) + 1) * 10 AS INTEGER) AS width,
      |  CAST(((n_chars % 48) + 1) * 10 AS INTEGER) AS height,
      |  CAST(length(text) AS INTEGER) AS payload_len,
      |  CAST(coalesce(list_sum(list_transform(range(1, least(16, length(text)) + 1),
      |         i -> ascii(substr(text, CAST(i AS INTEGER), 1)))) * 1000
      |       // nullif(least(16, length(text)), 0), 0) AS BIGINT) AS brightness_milli
      |FROM documents""".stripMargin

  private val frameSampleSql =
    s"""WITH f AS (
      |  SELECT doc_id, text, length(text) n,
      |         unnest(range(0, CAST((length(text) + ${FrameBytes - 1}) // $FrameBytes AS BIGINT), $SampleStride)) fno
      |  FROM documents)
      |SELECT doc_id, CAST(fno AS INTEGER) AS frame_no,
      |  CAST(least($FrameBytes, n - fno*$FrameBytes) AS INTEGER) AS frame_len,
      |  CAST(list_sum(list_transform(range(1, CAST(least($FrameBytes, n - fno*$FrameBytes) AS BIGINT) + 1),
      |         i -> ascii(substr(text, CAST(fno*$FrameBytes + i AS INTEGER), 1)))) * 1000
      |       // least($FrameBytes, n - fno*$FrameBytes) AS BIGINT) AS mean_milli
      |FROM f""".stripMargin

  private val resizeSql =
    """SELECT doc_id,
      |  CAST((((n_chars % 64) + 1) * 10 + 1) // 2 AS INTEGER) AS new_w,
      |  CAST((((n_chars % 48) + 1) * 10 + 1) // 2 AS INTEGER) AS new_h,
      |  CAST((length(text) + 1) // 2 AS INTEGER) AS new_len,
      |  md5(array_to_string(list_transform(range(1, length(text) + 1, 2),
      |        i -> substr(text, CAST(i AS INTEGER), 1)), '')) AS resized_md5
      |FROM documents""".stripMargin

  // the aHash replay: same blocks, same cross-multiplied mean compare
  // (coalesce(…, 0) makes an empty block's sum 0 → 0 >= 0 sets the
  // bit, matching the Scala kernel), same band requirement.
  private val phashSql = {
    val mask = (1 << PhBandBits) - 1
    s"""WITH d AS (SELECT doc_id, text, length(text) n,
       |        CAST(coalesce(list_sum(list_transform(range(1, length(text)+1),
       |          i -> ascii(substr(text, CAST(i AS INTEGER), 1)))), 0) AS BIGINT) s
       |      FROM documents),
       |h AS (SELECT doc_id,
       |        CAST(list_sum(list_transform(range(0, $PhBits), i ->
       |          CASE WHEN CAST(coalesce(list_sum(list_transform(
       |                 range(CAST(i*n//$PhBits AS BIGINT)+1,
       |                       CAST((i+1)*n//$PhBits AS BIGINT)+1),
       |                 j -> ascii(substr(text, CAST(j AS INTEGER), 1)))), 0) AS BIGINT) * n
       |               >= s * ((i+1)*n//$PhBits - i*n//$PhBits)
       |               THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END)) AS BIGINT) ph
       |      FROM d),
       |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
       |        bit_count(xor(a.ph, b.ph)) hamming,
       |        CAST(list_sum(list_transform(range(0, $PhBands), bb ->
       |          CASE WHEN ((xor(a.ph, b.ph) >> CAST(bb*$PhBandBits AS INTEGER)) & $mask) = 0
       |               THEN 1 ELSE 0 END)) AS BIGINT) n_share
       |      FROM h a JOIN h b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM p WHERE hamming <= $PhHamT AND n_share >= 1""".stripMargin
  }

  // q203: per-modality row_number is the oracle's affordable twin of
  // the two-phase ranker; same salt, same quota arithmetic
  private val modalBatchesSql = {
    val h = graft.functions.Portable.sqlHash60(
      "'mb:' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id,
       |        CASE WHEN doc_id % 4 = 0 THEN 'image' ELSE 'text' END
       |          AS modality, $h AS h
       |      FROM documents),
       |r AS (SELECT modality,
       |        row_number() OVER (PARTITION BY modality ORDER BY h, doc_id)
       |          - 1 AS mrank
       |      FROM d),
       |b AS (SELECT modality, mrank //
       |        (CASE WHEN modality = 'image' THEN $MbImage
       |              ELSE $MbText END) AS batch FROM r),
       |c AS (SELECT batch,
       |        CAST(sum(CASE WHEN modality = 'image' THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_image,
       |        CAST(sum(CASE WHEN modality = 'text' THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_text
       |      FROM b GROUP BY batch)
       |SELECT batch, n_image, n_text,
       |  CAST(n_image = $MbImage AND n_text = $MbText AS INTEGER)
       |    AS complete
       |FROM c""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q110_phash_dedup" -> phashSql,
    "q25_multimodal" -> multimodalSql,
    "q32_frame_sample" -> frameSampleSql,
    "q41_media_resize" -> resizeSql,
    "q203_modal_batches" -> modalBatchesSql)
}
