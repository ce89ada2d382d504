package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{AtomicParquet, PerfTracker}

/** Each workload end to end on a tiny load: plain and traced ticks pass
  * the output check, the traced run emits one span per layer per tick,
  * and the check catches a corrupted master. */
class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root: Path = Files.createTempDirectory(
    Files.createDirectories(Paths.get("target")).toAbsolutePath, "workload-spec")
  private lazy val spark: SparkSession = Driver.session(2, root)

  override def afterAll(): Unit = {
    spark.stop()
    Workload.deleteTree(root)
  }

  private val tiny = Map(
    "hourly_search" -> Sizes(active = 40, history = 400, perTick = 0, keysPerTick = 0),
    "daily_deep" -> Sizes(active = 40, history = 5, perTick = 20, keysPerTick = 0),
    "churn_stream" -> Sizes(active = 50, history = 10, perTick = 300, keysPerTick = 40))

  private val layers = Map(
    "hourly_search" -> Seq("tick", "parse", "etl", "pipeline.unpublish", "merge",
      "io.publish", "pipeline.views"),
    "daily_deep" -> Seq("tick", "parse", "etl", "merge", "io.publish", "pipeline.views"),
    "churn_stream" -> Seq("tick", "streaming", "merge", "io.publish"))

  private def seeded(w: String): Workload = {
    val wl = Workload(w, 11, tiny(w), root.resolve(w))
    wl.seedMaster(spark)
    wl
  }

  private def tick(wl: Workload, t: Int, tr: Option[Tracer]): Unit = {
    wl.prepare(spark, t)
    tr.fold(wl.run(spark, t))(wl.traced(spark, t, _))
    wl.commitTruth()
  }

  for (w <- Workload.Names) test(s"$w: plain and traced ticks match the restatement; one span per layer per tick") {
    val wl = seeded(w)
    tick(wl, 0, None)
    assert(wl.check(spark).isEmpty)
    val tr = new Tracer(PerfTracker.install(spark), "spec")
    for (t <- 1 to 2) {
      tick(wl, t, Some(tr))
      assert(wl.check(spark).isEmpty, s"tick $t")
    }
    for (t <- 1 to 2)
      assert(tr.spans.filter(_.tick == t).map(_.name).sorted == layers(w).sorted, s"tick $t")
    // self times partition each tick's wall time
    for (tk <- tr.spans.filter(_.name == "tick")) {
      val inTick = tr.spans.filter(_.tick == tk.tick)
      assert(math.abs(inTick.map(tr.selfSeconds).sum - tk.seconds) < 1e-6)
    }
    assert(tr.spans.filter(_.name == "merge").forall(_.counters("source_rows") > 0))
  }

  test("the check reports a planted wrong price and a missed unpublish in the published master") {
    val wl = seeded("hourly_search")
    tick(wl, 0, None)
    assert(wl.check(spark).isEmpty)
    val original = spark.read.parquet(wl.masterPath).localCheckpoint()
    def planted(cond: org.apache.spark.sql.Column, column: String,
        value: org.apache.spark.sql.Column): Seq[String] = {
      AtomicParquet.publish(original.withColumn(column,
        when(cond, value).otherwise(col(column))).localCheckpoint(), wl.masterPath)
      try wl.check(spark)
      finally AtomicParquet.publish(original, wl.masterPath)
    }
    val priced = wl.truth.rows.values.find(_.unpub.contains(false)).get.id
    val badPrice = planted(col("offer_id") === priced, "price_value",
      col("price_value") + 500)
    assert(badPrice.size == 1 && badPrice.head.startsWith(priced), badPrice)
    // prefer an id this tick's J3 marker unpublished (its status stays active)
    val unpub = wl.truth.rows.values.filter(_.unpub.contains(true)).toSeq
    val unpublished = unpub.find(_.status.contains("active")).getOrElse(unpub.head).id
    val missed = planted(col("offer_id") === unpublished, "is_unpublished", lit(false))
    assert(missed.size == 1 && missed.head.startsWith(unpublished), missed)
  }
}
