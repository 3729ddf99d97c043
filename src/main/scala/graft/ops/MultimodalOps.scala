package graft.ops

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (BASELINE.json north star): image/audio/video
  * as opaque `binary` columns with typed metadata, plus batched
  * decode / feature-extract / resize / frame-sample stages.
  *
  * The corpus has no real media, so the media table is DERIVED
  * deterministically from `documents` (content = UTF-8 bytes of the text —
  * a stand-in payload whose lengths/bytes are stable and oracle-checkable).
  * The decode step is a clearly-marked STUB (no image/audio libraries in
  * this environment): it computes a deterministic fake feature vector from
  * the raw bytes. Everything AROUND the stub — schema, binary columns,
  * batched per-partition execution, explode shape, partitioning — is the
  * real Spark plumbing a production decoder would drop into.
  */
object MultimodalOps {

  val Formats: Seq[String] = Seq("image", "audio", "video")

  /** Media table: binary payload + typed metadata struct. Pure column ops —
    * stays in whole-stage codegen, derives everything from the scan. */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").cast("binary").as("content"),
      struct(
        element_at(array(Formats.map(lit): _*), (col("doc_id") % 3 + 1).cast("int")).as("format"),
        (lit(64) + col("n_chars") % 512).cast("int").as("width"),
        (lit(64) + (col("n_chars") * 7) % 512).cast("int").as("height"),
        // floor-div, not `/` + int cast: Spark's double→int cast truncates
        // but DuckDB's rounds — keep the arithmetic integral on both sides
        (floor(col("n_chars") / 32) + 1).cast("int").as("n_frames")).as("meta"))

  /** Feature dimension of the stubbed decoder. */
  val FeatureDim = 8

  /** Byte-statistics decoder — the FALLBACK leg of the pluggable
    * `MediaDecoders` mux (real RIFF/WAVE-PCM and BMP parsers claim their
    * containers first; compressed codecs like JPEG would need a library
    * this sandbox doesn't have). Derives FeatureDim deterministic floats
    * from byte statistics so opaque payloads — including this corpus's
    * synthetic text bytes — keep the pipeline shape fully exercised and
    * oracle-checkable.
    *
    * The bins accumulate RAW byte values (integers): every partial sum is an
    * exact float32 as long as a bin stays below 2²⁴ (payloads ≤ ~65 KiB —
    * the corpus max is 577 bytes), which makes the stub's output not merely
    * deterministic but reproducible from SQL over the same bytes — the
    * mm_features DuckDB oracle recomputes the per-bin sums exactly. */
  private[ops] def decodeStub(content: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    var i = 0
    while (i < content.length) {
      out(i % FeatureDim) += (content(i) & 0xff).toFloat
      i += 1
    }
    out
  }

  private val featureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("format", StringType),
    StructField("features", ArrayType(FloatType))))

  /** Batched decode/feature-extract over partitions: `mapPartitions` with an
    * explicit batch size — the Scala analogue of a batched (pandas-style)
    * UDF: amortizes any per-batch decoder setup, bounds memory, and keeps
    * the whole stage distributed (nothing touches the driver).
    *
    * Decoding is PLUGGABLE (`MediaDecoders`): payloads are container-
    * sniffed, RIFF/WAVE PCM and uncompressed BMP parse for real
    * (dependency-free, spec-verified byte-level), and opaque payloads —
    * including this corpus's synthetic text bytes — fall back to the
    * deterministic byte-stats decoder that the mm_features oracle
    * reproduces in SQL. */
  def extractFeatures(spark: SparkSession, sfDir: String, batchSize: Int = 64,
                      maxId: Long = Long.MaxValue): DataFrame = {
    // The id bound is applied BEFORE the opaque mapPartitions stage — a
    // filter after it cannot push through, and decode is the expensive step
    // a real pipeline bounds first.
    val media = mediaTable(spark, sfDir).filter(col("media_id") < maxId)
      .select(col("media_id"), col("meta.format").as("format"), col("content"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(featureSchema)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch decoder setup would happen here (e.g. codec init)
        batch.iterator.map { r =>
          Row(r.getLong(0), r.getString(1),
            MediaDecoders.decode(r.getAs[Array[Byte]]("content")).toSeq)
        }
      }
    }(enc)
  }

  /** Resize: pure metadata transform (column arithmetic — no payload touch;
    * a real resize would be another batched mapPartitions on content). */
  def resizeMeta(spark: SparkSession, sfDir: String, maxW: Int = 256, maxH: Int = 256): DataFrame =
    mediaTable(spark, sfDir).select(
      col("media_id"),
      col("meta.format").as("format"),
      least(col("meta.width"), lit(maxW)).as("width"),
      least(col("meta.height"), lit(maxH)).as("height"))

  /** Real-file media ingestion via Spark's `binaryFile` source — the
    * actual 100 TB on-ramp for image/audio/video corpora (one row per
    * file: path, length, binary content; `pathGlobFilter`/partitioned
    * dirs prune at the listing). The fixture payloads are written ONCE
    * as real files (build-once artifact, driver-side — bounded count),
    * then ingested through the genuine DataSource path; doc_id parses
    * from the filename and the oracle checks byte length + content md5
    * against the source rows, certifying the whole write→list→read→
    * decode-key chain. */
  def binaryIngest(spark: SparkSession, sfDir: String, maxId: Int = 50): DataFrame = {
    val dir = graft.etl.Artifacts.frozen(sfDir, "binfiles") { d =>
      Tables.documents(spark, sfDir).filter(col("doc_id") < maxId)
        .select("doc_id", "text").collect().foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, f"${r.getLong(0)}%05d.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        col("length"), md5(col("content")).as("content_md5"))
      .orderBy("doc_id")
  }

  /** Frame sampling: slice the payload into fixed 32-byte "frames", keep
    * every `stride`-th — explode shape with ordinal, the video-pipeline
    * primitive. Built-ins only (sequence/transform/posexplode). */
  def sampleFrames(spark: SparkSession, sfDir: String, stride: Int = 4, maxId: Long = 50): DataFrame = {
    val m = mediaTable(spark, sfDir).filter(col("media_id") < maxId)
    val nChunks = ceil(length(col("content")) / lit(32.0)).cast("int")
    val nSampled = ceil(nChunks.cast("double") / lit(stride.toDouble)).cast("int")
    m.select(col("media_id"), col("content"),
        posexplode(sequence(lit(0), nSampled - 1)).as(Seq("frame_idx", "k")))
      .select(col("media_id"), col("frame_idx"),
        // every stride-th 32-byte chunk (substr works on binary)
        col("content").substr(col("k") * (32 * stride) + 1, lit(32)).as("frame"))
  }

  /** Frame metadata (count of sampled frames per media) — the
    * oracle-checkable projection of the sampling arithmetic. */
  def frameCounts(spark: SparkSession, sfDir: String, stride: Int = 4, maxId: Long = 50): DataFrame = {
    val m = mediaTable(spark, sfDir).filter(col("media_id") < maxId)
    val nChunks = ceil(length(col("content")) / lit(32.0)).cast("long")
    m.select(col("media_id"), col("meta.format").as("format"),
        length(col("content")).as("n_bytes"),
        // frames 0, stride, 2*stride, … < nChunks
        ceil(nChunks / lit(stride.toDouble)).cast("long").as("n_sampled"))
      .orderBy("media_id")
  }

  /** Driver entry: metadata projection (oracle: same arithmetic in SQL). */
  def mediaMeta(spark: SparkSession, sfDir: String, maxId: Long = 100): DataFrame =
    mediaTable(spark, sfDir)
      .filter(col("media_id") < maxId)
      .select(col("media_id"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.n_frames").as("n_frames"),
        length(col("content")).as("n_bytes"))
      .orderBy("media_id")

  /** Perceptual-hash near-duplicate pairs over the MEDIA corpus — the
    * multimodal twin of `dd_simhash`: an 8-bit signature derived from the
    * decoded feature vector (bit j set iff bin j is above the payload's
    * mean bin — the classic average-hash construction, here over the
    * pluggable decoder's output instead of pixel blocks), then pairs at
    * hamming distance ≤ 1. Candidate generation is BANDED (two 4-bit
    * half-keys; a ≤1-bit difference leaves at least one half intact —
    * pigeonhole), so the join is per-bucket, never all-pairs: at 100 TB
    * the cost is Σ bucket² over 2×16 buckets of a corpus partitioned by
    * half-key, the same scale shape as the text-side LSH family. The
    * signature threshold uses 8·bin > total (integer arithmetic, no
    * division) so the oracle replays it exactly from the bytes. */
  def phashNearDup(spark: SparkSession, sfDir: String, maxId: Long = 300): DataFrame = {
    val sig = extractFeatures(spark, sfDir, maxId = maxId)
      .select(col("media_id"),
        expr("transform(features, x -> CAST(x AS BIGINT))").as("bins"))
      .select(col("media_id"),
        expr("aggregate(sequence(0, 7), 0L, (acc, j) -> acc + " +
          "IF(8 * element_at(bins, j + 1) > aggregate(bins, 0L, (a, x) -> a + x), " +
          "shiftleft(1L, j), 0L))").as("sig"))
    val banded = sig.select(col("media_id"), col("sig"),
      explode(array(
        struct(lit(0).as("band"), col("sig").bitwiseAND(15).as("key")),
        struct(lit(1).as("band"), shiftright(col("sig"), 4).as("key")))).as("bk"))
      .select(col("media_id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
    val l = banded.select(col("band"), col("key"),
      col("media_id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("key"),
      col("media_id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming", expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)"))
      .filter(col("hamming") <= 1)
      .orderBy("id_a", "id_b")
  }

  /** WebDataset-style shard manifest: pack media items into fixed-budget
    * shards (greedy by id order, new shard when the running byte total
    * crosses the budget) and emit the manifest a training loader consumes —
    * (format, shard_id, item count, byte total, id range). The mechanics
    * mirror `tx_pack`: one window per FORMAT partition (fully parallel —
    * the per-format greedy scan is the same cumulative-sum-before trick,
    * no global sort, no driver loop), one aggregation for the manifest.
    * At 100 TB the id range per shard is what lets the loader fetch a
    * shard with a single range scan of the id-sorted store. */
  def shardManifest(spark: SparkSession, sfDir: String,
                    targetBytes: Long = 4096): DataFrame = {
    val w = Window.partitionBy("format").orderBy("media_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mediaTable(spark, sfDir)
      .select(col("media_id"), col("meta.format").as("format"),
        length(col("content")).cast("long").as("n_bytes"))
      .withColumn("cum_before", sum("n_bytes").over(w) - col("n_bytes"))
      .withColumn("shard_id", floor(col("cum_before") / targetBytes).cast("long"))
      .groupBy("format", "shard_id")
      .agg(count(lit(1)).as("n_items"),
        sum("n_bytes").as("total_bytes"),
        min("media_id").as("first_id"), max("media_id").as("last_id"))
      .orderBy("format", "shard_id")
  }

  /** Activity segmentation over opaque media bytes (mm_vad_segments) —
    * the voice-activity-detection shape of audio curation: the byte
    * stream is cut into fixed frames, each frame's ENERGY (byte-value
    * sum — the stub stand-in for RMS, same contract as decodeStub) gates
    * it active/inactive, and maximal active runs become segments. The
    * interesting part is the PLAN: everything — framing, energy, the
    * run-length scan — is higher-order-function folds inside ONE
    * map-only codegen projection; no explode (no per-byte row blowup,
    * the dd_cdc_chunk lesson), no window, no shuffle until the final
    * display sort. The max-run fold carries (current, best) encoded in
    * one BIGINT (cur·10⁵ + best) so the same integer recurrence replays
    * verbatim as DuckDB's list_reduce. Bounded demo set (media_id < 100,
    * the mm_features contract); at 100 TB the projection maps over every
    * row with zero extra rows materialized. */
  def vadSegments(spark: SparkSession, sfDir: String,
                  frame: Int = 32, perByteFloor: Int = 80,
                  maxId: Long = 100L): DataFrame = {
    val threshold = frame * perByteFloor
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") < maxId && length(col("text")) > 0)
      .select(col("doc_id").as("media_id"),
        element_at(lit(Formats.toArray), (col("doc_id") % 3 + 1).cast("int"))
          .as("format"),
        col("text"))
      .withColumn("nf", ceil(length(col("text")) / lit(frame)).cast("int"))
      .withColumn("acts", expr(
        s"""transform(sequence(1, nf), j ->
           |  CASE WHEN aggregate(
           |    sequence((j - 1) * $frame + 1, least(j * $frame, length(text))),
           |    0L, (a, i) -> a + ascii(substr(text, i, 1))) >= $threshold
           |  THEN 1 ELSE 0 END)""".stripMargin))
      .select(col("media_id"), col("format"),
        col("nf").cast("long").as("n_frames"),
        expr("aggregate(acts, 0L, (a, x) -> a + x)").as("n_active"),
        // A segment starts where an active frame follows an inactive one.
        expr("""aggregate(transform(sequence(1, nf), i ->
               |  element_at(acts, i) *
               |    (1 - IF(i = 1, 0, element_at(acts, i - 1)))),
               |0L, (a, x) -> a + x)""".stripMargin).as("n_segments"),
        expr("""aggregate(acts, 0L, (acc, x) ->
               |  CASE WHEN x = 1
               |    THEN ((acc DIV 100000) + 1) * 100000
               |       + greatest(acc % 100000, (acc DIV 100000) + 1)
               |    ELSE acc % 100000 END) % 100000""".stripMargin).as("max_run"))
      .orderBy("media_id")
  }

  /** CLIP-score gating of image–caption pairs (mm_clip_filter) — the
    * LAION-style curation step: every candidate pair gets an image-text
    * similarity from a two-tower embedding model, and pairs below the
    * alignment threshold are dropped before training. Pairs are formed
    * deterministically from the embeddings table (even vec_id = image
    * tower, odd vec_id = its caption tower — the two-tower layout a real
    * CLIP batch inference emits), joined on pair_id = vec_id DIV 2: an
    * EQUI-join that shuffles both sides once on the pair key at 100 TB,
    * never an all-pairs comparison. The cosine uses the codegen'd
    * `DotProduct` fold (same index order as the oracle's list_sum), then
    * drops to exact integer micros via floor — sums of micros are
    * partial-agg-safe, so the per-label retention stats (n_pairs, n_kept,
    * kept_ppm, kept mass) hash-certify across engines. One scan, one
    * equi-join, one hash aggregate. */
  def clipFilter(spark: SparkSession, sfDir: String, thresholdMicro: Long = 0L): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.ops.SimilarityOps.dot(col("v"), col("v"))))
    val img = e.filter(expr("vec_id % 2 = 0"))
      .select(expr("vec_id DIV 2").as("pair_id"), col("label"),
        col("v").as("iv"), col("nrm").as("inrm"))
    val cap = e.filter(expr("vec_id % 2 = 1"))
      .select(expr("vec_id DIV 2").as("pair_id"),
        col("v").as("cv"), col("nrm").as("cnrm"))
    img.join(cap, "pair_id")
      .withColumn("clip_micro",
        floor(graft.ops.SimilarityOps.dot(col("iv"), col("cv")) /
          (col("inrm") * col("cnrm")) * lit(1000000.0)).cast("long"))
      .withColumn("keep", col("clip_micro") >= thresholdMicro)
      .groupBy("label")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("keep"), col("clip_micro"))), lit(0L))
          .as("kept_clip_micro_sum"),
        max("clip_micro").as("max_clip_micro"))
      .withColumn("kept_ppm", expr("n_kept * 1000000 div n_pairs"))
      .orderBy("label")
  }
}
