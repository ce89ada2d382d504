package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.etl.{Flatten, Normalize}
import graft.io.AtomicParquet
import graft.merge.MergeListings
import graft.pipeline.{Pipeline, RawPage}
import graft.streaming.StreamingMerge

/** One benchmark workload: a seeded generator, the program's tick over
  * the generated files, the same tick with every layer boundary forced
  * for the traced run, and the output check. The session is passed per
  * call, so the traced run can switch to a `local[1]` session midway. */
abstract class Workload(val name: String, seed: Long, val sizes: Sizes,
    val dir: Path) {
  val gen = new WorkloadGen(name, seed, sizes)
  val truth = new Truth(gen.seedRows)
  val masterPath: String = dir.resolve("master").toString
  /** Source rows the current tick feeds the merge (restatement order). */
  protected var batch: Seq[SrcRow] = Nil
  def sourceRows: Int = batch.size

  /** The master's schema: whatever the merge emits for this workload's
    * source schema (derived from the program, never hard-coded). */
  protected def masterSchema(spark: SparkSession): StructType

  /** Seed the master: write the generator's initial rows through the
    * program's atomic publish. */
  def seedMaster(spark: SparkSession): Unit = {
    val schema = masterSchema(spark)
    val rows = gen.seedRows.map(r => Workload.toRow(schema, r, Gen.seedDate))
    AtomicParquet.publish(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema),
      masterPath)
  }

  /** Write tick `t`'s input files (untimed) and stage its ground truth. */
  def prepare(spark: SparkSession, t: Int): Unit

  /** The program's own tick, as a cron launch runs it. */
  def run(spark: SparkSession, t: Int): Unit

  /** The same tick with each layer forced by an action inside a span. */
  def traced(spark: SparkSession, t: Int, tr: Tracer): Unit

  /** Fold the staged tick into the restatement (after the tick ran). */
  def commitTruth(): Unit = truth(batch)

  /** Compare the published master with the restatement. */
  def check(spark: SparkSession): Seq[String] = {
    val actual = spark.read.parquet(masterPath)
      .select("offer_id", "price_value", "total_price_changes",
        "price_changes", "is_unpublished", "status")
      .collect().toSeq.map { r =>
        def opt[A](i: Int): Option[A] =
          if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[A])
        MasterRow(r.getString(0), opt[Double](1), opt[Long](2), opt[String](3),
          opt[Boolean](4), opt[String](5))
      }
    Truth.diff(truth.rows, actual)
  }

  def masterBytes: Long = Workload.bytesUnder(java.nio.file.Paths.get(masterPath))
}

object Workload {
  val Names: Seq[String] = Seq("hourly_search", "daily_deep", "churn_stream")

  /** Default sizes per workload (see BENCHMARK.json for the reasons). */
  def defaultSizes(name: String): Sizes = name match {
    case "hourly_search" => Sizes(active = 300, history = 30000, perTick = 0, keysPerTick = 0)
    case "daily_deep"    => Sizes(active = 1000, history = 100, perTick = 150, keysPerTick = 0)
    case "churn_stream"  => Sizes(active = 3000, history = 500, perTick = 10000, keysPerTick = 1500,
      warmupTicks = 15)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The sizes as BENCHMARK.json's `why` lines state them. */
  def sizeNote(name: String): String = {
    val s = defaultSizes(name)
    name match {
      case "hourly_search" => s"${s.active} cards/tick, ${s.history / 1000}k-row history"
      case "daily_deep" => s"${s.perTick} pages/tick, ${s.active}-listing master"
      case _ => s"${s.perTick / 1000}k rows/tick over ${s.keysPerTick} keys"
    }
  }

  def apply(name: String, seed: Long, sizes: Sizes, dir: Path): Workload =
    name match {
      case "hourly_search" => new SearchWorkload(name, seed, sizes, dir, bySearch = true)
      case "daily_deep"    => new SearchWorkload(name, seed, sizes, dir, bySearch = false)
      case "churn_stream"  => new StreamWorkload(name, seed, sizes, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** A seeded master row in the program's schema: the compared columns
    * plus the dates a real history carries; every other column null. */
  def toRow(schema: StructType, r: MasterRow, date: String): Row = {
    val id = r.id.toLong
    val values: Map[String, Any] = Map(
      "offer_id" -> r.id, "url" -> s"${Gen.url(id)}/", "offer_url" -> Gen.url(id),
      "price_value" -> r.price.getOrElse(null),
      "total_price_changes" -> r.tpc.getOrElse(null),
      "price_changes" -> r.pc.orNull, "is_unpublished" -> r.unpub.getOrElse(null),
      "status" -> r.status.orNull, "title" -> s"квартира $id",
      "description" -> s"Квартира $id, история.", "publication_date" -> date,
      "last_active" -> date, "timestamp" -> date,
      "unpublished_date" -> (if (r.unpub.contains(true)) date else null))
    Row.fromSeq(schema.fields.toSeq.map { f =>
      values.get(f.name).map {
        case null => null
        case v: Double if f.dataType == DoubleType => v
        case v: Long if f.dataType == LongType => v
        case v: Boolean if f.dataType == BooleanType => v
        case v: String if f.dataType == StringType => v
        case v => throw new IllegalStateException(
          s"seed value $v does not fit ${f.name}: ${f.dataType}")
      }.orNull
    })
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def partFiles(p: Path): Long = {
    val s = Files.list(p)
    try s.filter(_.getFileName.toString.startsWith("part-")).count()
    finally s.close()
  }
}

/** hourly_search and daily_deep: HTML pages on disk → parse → flatten →
  * normalize → (J3 markers) → MERGE → atomic publish → CSV views, i.e.
  * `graft.Main`'s body. */
class SearchWorkload(name: String, seed: Long, sizes: Sizes, dir: Path,
    bySearch: Boolean) extends Workload(name, seed, sizes, dir) {
  private val views = dir.resolve("views")
  private def pagesDir(t: Int) = dir.resolve(f"pages/tick-$t%05d")
  var pages = 0

  protected def masterSchema(spark: SparkSession): StructType = {
    val empty = Pipeline.emptyMaster(spark)
    MergeListings.mergeBatch(empty, empty).schema
  }

  def prepare(spark: SparkSession, t: Int): Unit = {
    if (t > 0) Workload.deleteTree(pagesDir(t - 1))
    val out = Files.createDirectories(pagesDir(t))
    def put(file: String, html: String): Unit =
      Files.write(out.resolve(file), html.getBytes(StandardCharsets.UTF_8))
    if (bySearch) {
      val (ps, cards) = gen.searchTick(t)
      ps.zipWithIndex.foreach { case (html, i) => put(f"page-$i%04d.html", html) }
      pages = ps.size
      batch = cards ++ truth.markers(cards)
    } else {
      val (ps, rows) = gen.deepTick(t)
      ps.foreach { case (id, html) => put(s"$id.html", html) }
      pages = ps.size
      batch = rows
    }
  }

  /** Main's page reader: `<digits>.html` is listing /rent/flat/<digits>/,
    * any other file keeps its path as url. */
  private def readPages(spark: SparkSession, t: Int) = {
    import spark.implicits._
    val idFile = """.*/(\d+)\.html?$""".r
    spark.sparkContext.wholeTextFiles(pagesDir(t).toString).map {
      case (idFile(id), html) => RawPage(s"https://www.cian.ru/rent/flat/$id/", html)
      case (path, html) => RawPage(path, html)
    }.toDS()
  }

  private def master(spark: SparkSession) =
    AtomicParquet.read(spark, masterPath, Pipeline.emptyMaster(spark))

  private def writeViews(spark: SparkSession, asOf: org.apache.spark.sql.Column): Unit = {
    val published = spark.read.parquet(masterPath)
    Pipeline.writeCsv(published, views.resolve("combined_data").toString)
    Pipeline.writeCsv(Pipeline.dashboardView(published, asOf),
      views.resolve("combined_data_filtered").toString)
  }

  def run(spark: SparkSession, t: Int): Unit = {
    val asOfStr = Gen.asOf(t)
    val asOf = lit(asOfStr).cast("timestamp")
    val merged = Pipeline.processBatch(spark, master(spark), readPages(spark, t),
      asOf, asOfStr, updateUnpublishedBySearch = bySearch)
    AtomicParquet.publish(merged, masterPath)
    writeViews(spark, asOf)
  }

  def traced(spark: SparkSession, t: Int, tr: Tracer): Unit = {
    val asOfStr = Gen.asOf(t)
    val asOf = lit(asOfStr).cast("timestamp")
    val rowsIn = truth.rows.size
    var parsed: DataFrame = null
    var markers: DataFrame = null
    tr.span("tick", t) {
      val m = master(spark)
      val pagesDs = readPages(spark, t)
      parsed = tr.span("parse", t) {
        Pipeline.parsePages(spark, pagesDs, asOfStr).localCheckpoint()
      }
      val normalized = tr.span("etl", t) {
        Normalize(Flatten(Pipeline.filterParsed(parsed)), asOf).localCheckpoint()
      }
      val src = if (bySearch) {
        markers = tr.span("pipeline.unpublish", t) {
          Pipeline.missingAsUnpublished(m, normalized).localCheckpoint()
        }
        normalized.unionByName(markers, allowMissingColumns = true)
      } else normalized
      val merged = tr.span("merge", t) {
        MergeListings.mergeBatch(m, src).localCheckpoint()
      }
      tr.span("io.publish", t) { AtomicParquet.publish(merged, masterPath) }
      tr.span("pipeline.views", t) { writeViews(spark, asOf) }
    }
    // counts, taken after the tick so they add no time to any span
    val rowsParsed = parsed.count().toDouble
    val kept = Pipeline.filterParsed(parsed).count().toDouble
    tr.count("parse", t, "pages" -> pages, "rows_parsed" -> rowsParsed,
      "rows_out" -> kept, "kept_ratio" -> (if (rowsParsed > 0) kept / rowsParsed else 0))
    if (markers != null)
      tr.count("pipeline.unpublish", t, "markers" -> markers.count().toDouble)
    val keys = batch.iterator.map(_.id).toSet.size.toDouble
    tr.count("merge", t, "master_rows_in" -> rowsIn, "source_rows" -> batch.size,
      "keys" -> keys, "rows_per_key" -> batch.size / keys)
    tr.count("io.publish", t, "files_written" ->
      Workload.partFiles(java.nio.file.Paths.get(masterPath)).toDouble)
    tr.count("pipeline.views", t, "views_bytes" -> Workload.bytesUnder(views).toDouble)
  }
}

/** churn_stream: one parquet file of flat update rows lands per tick and
  * `StreamingMerge.start` folds it into the master (`seq` ordering,
  * Trigger.AvailableNow). */
class StreamWorkload(name: String, seed: Long, sizes: Sizes, dir: Path)
    extends Workload(name, seed, sizes, dir) {
  private val inDir = dir.resolve("in")
  private val ckpt = dir.resolve("ckpt").toString
  private val schema = Encoders.product[UpdateRow].schema

  protected def masterSchema(spark: SparkSession): StructType = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    MergeListings.mergeBatch(empty, empty, Some("seq")).schema
  }

  def prepare(spark: SparkSession, t: Int): Unit = {
    import spark.implicits._
    val rows = gen.streamTick(t)
    batch = rows.map(_.toSrc)
    val staging = dir.resolve(f"staging/tick-$t%05d")
    rows.toDS().coalesce(1).write.parquet(staging.toString)
    // land the batch atomically: one rename into the watched directory
    Files.createDirectories(inDir)
    val part = {
      val s = Files.list(staging)
      try s.filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      finally s.close()
    }
    Files.move(part, inDir.resolve(f"batch-$t%05d.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Workload.deleteTree(staging)
  }

  private def stream(spark: SparkSession) =
    spark.readStream.schema(schema).parquet(inDir.toString)

  def run(spark: SparkSession, t: Int): Unit =
    StreamingMerge.start(stream(spark), masterPath, ckpt, Some("seq"))
      .awaitTermination()

  /** `StreamingMerge.start` fuses merge and publish inside its
    * foreachBatch, so the traced tick runs the same query shape (Update
    * mode, same checkpoint, AvailableNow, foreachBatch → read, merge,
    * publish) with the merge forced before the publish. The streaming
    * durations come from the query's own progress reports. */
  def traced(spark: SparkSession, t: Int, tr: Tracer): Unit = {
    val rowsIn = truth.rows.size
    var progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil
    tr.span("tick", t) {
      tr.span("streaming", t) {
        val q = stream(spark).writeStream
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            val m = AtomicParquet.read(b.sparkSession, masterPath, b)
            val merged = tr.span("merge", t) {
              MergeListings.mergeBatch(m, b, Some("seq")).localCheckpoint()
            }
            tr.span("io.publish", t) { AtomicParquet.publish(merged, masterPath) }
            ()
          }
          .start()
        q.awaitTermination()
        progress = q.recentProgress.toSeq
      }
    }
    def total(k: String): Double = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
    tr.count("streaming", t, "add_batch_ms" -> total("addBatch"),
      "framework_ms" -> (total("triggerExecution") - total("addBatch")),
      "wal_commit_ms" -> total("walCommit"),
      "commit_offsets_ms" -> total("commitOffsets"),
      "batches" -> progress.count(_.numInputRows > 0).toDouble)
    val keys = batch.iterator.map(_.id).toSet.size.toDouble
    tr.count("merge", t, "master_rows_in" -> rowsIn, "source_rows" -> batch.size,
      "keys" -> keys, "rows_per_key" -> batch.size / keys)
    tr.count("io.publish", t, "files_written" ->
      Workload.partFiles(java.nio.file.Paths.get(masterPath)).toDouble)
  }
}
