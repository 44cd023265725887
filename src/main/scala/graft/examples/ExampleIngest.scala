package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end DAILY-CRAWL ingest demo — the streaming dedup loops run
  * against REAL file sources (Structured Streaming's parquet directory
  * source), not just MemoryStream specs:
  *
  *   1. "day 1" and "day 2" crawl drops land as parquet files in a
  *      watched directory;
  *   2. [[graft.streaming.StreamingEval.textIngestStream]] signs each
  *      micro-batch, vets it against the persisted signature index, and
  *      appends admissions — day 2's re-crawled pages are rejected
  *      against day 1's admissions;
  *   3. the same loop runs for images over 256-bit gradient hashes
  *      ([[graft.streaming.StreamingEval.imageIngestStream256]]).
  *
  * Run with: {{{ sbt "runMain graft.examples.ExampleIngest" }}}
  */
object ExampleIngest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-example-ingest")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.streaming.schemaInference", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = graft.io.TempDirs.create("graft-ingest-demo").toString
    val crawlDir = s"$root/crawl"
    val indexPath = s"$root/sig_index"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(crawlDir))

    // ---- text ingest ------------------------------------------------
    val day1 = Seq(
      (1L, "breaking news about the spark engine release and its optimizer"),
      (2L, "a completely unrelated cooking recipe with plenty of garlic"),
      (3L, "sports results from the weekend league fixtures and standings"))
    val day2 = Seq(
      (10L, "breaking news about the spark engine release and its optimizer"), // re-crawl: reject
      (11L, "fresh science reporting on deterministic distributed training"))  // new: admit

    day1.toDF("doc_id", "text").write.parquet(s"$crawlDir/day=1")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "16")
      .parquet(s"$crawlDir/*")
    val query = graft.streaming.StreamingEval.textIngestStream(
        stream, "text", "doc_id", indexPath)
      .option("checkpointLocation", s"$root/ckpt_text")
      .start()
    query.processAllAvailable()
    println(s"after day 1: index holds " +
      spark.read.parquet(indexPath).count() + " signatures")

    day2.toDF("doc_id", "text").write.parquet(s"$crawlDir/day=2")
    query.processAllAvailable()
    query.stop()
    val admitted = spark.read.parquet(indexPath).select("doc_id")
      .as[Long].collect().sorted.toSeq
    println(s"after day 2: admitted ids = $admitted (10 rejected as a re-crawl)")

    // ---- image ingest (256-bit gradient hashes) ---------------------
    val imgRoot = s"$root/images"
    val imgIndex = s"$root/img_index"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(imgRoot))
    def ppm(seed: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      graft.ops.ImageCodecs.encodePpm(graft.ops.ImageCodecs.DecodedImage(16, 12,
        Array.fill(16 * 12 * 3)(rnd.nextInt(256).toByte)))
    }
    Seq((1L, ppm(1)), (2L, ppm(2))).toDF("doc_id", "payload")
      .write.parquet(s"$imgRoot/day=1")
    val imgStream = spark.readStream
      .schema("doc_id LONG, payload BINARY")
      .parquet(s"$imgRoot/*")
    val imgQuery = graft.streaming.StreamingEval.imageIngestStream256(
        imgStream, "doc_id", "payload", imgIndex)
      .option("checkpointLocation", s"$root/ckpt_img")
      .start()
    imgQuery.processAllAvailable()
    Seq((10L, ppm(1)), (11L, ppm(3))).toDF("doc_id", "payload") // 10 = re-upload
      .write.parquet(s"$imgRoot/day=2")
    imgQuery.processAllAvailable()
    imgQuery.stop()
    val imgAdmitted = spark.read.parquet(imgIndex).select("doc_id")
      .as[Long].collect().sorted.toSeq
    println(s"image index after day 2: $imgAdmitted (10 rejected as a re-upload)")

    spark.stop()
  }
}
