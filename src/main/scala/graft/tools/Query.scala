package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Bench, Session, SparkEntry}
import scala.collection.mutable.ArrayBuffer

/** Dev tool: look at one or more registered queries in one JVM.
  *
  * Usage: runMain graft.tools.Query <mode> <q1,q2,...> [sfDir]
  *
  * Queries are registered [[SparkEntry.queries]] names; sfDir defaults
  * to sf0.01. Modes:
  *  - `explain`: formatted physical plan, nothing executed.
  *  - `show`: run and print up to 50 rows.
  *  - `time`: driver-side phases (build / analyze / optimize / plan)
  *    vs execution of the measured rep.
  *  - `stages`: wall, job/stage counts, the wall covered by stages vs
  *    the gap spent outside any stage (driver planning, stream
  *    machinery, parquet commits), and the top stages by task time.
  *  - `plan`: both Bench plan fingerprints of the measured rep, plus the
  *    last query's normalized executed plan. Running the same last
  *    query behind two different prefix lists and diffing the output
  *    reproduces a context-sensitive fingerprint: whatever differs is
  *    what `Bench.planFingerprint2` must canonicalize (q334, q69).
  *
  * `time`, `stages` and `plan` follow Bench's discipline: a warm rep at
  * the target sf, then a measured rep from a clean cache, counted to
  * force the final adaptive plan. One stage listener serves all modes.
  */
object Query {
  private case class Stage(id: Int, tasks: Int, sub: Long, done: Long,
      taskMs: Long, gcMs: Long, name: String)

  /** One measured rep: the built frame, its row count, phase seconds
    * (build, analyze, optimize, plan, exec), and what the listener saw. */
  private case class Rep(df: DataFrame, rows: Long, phases: Seq[Double],
      stages: Vector[Stage], jobs: Int)

  def main(args: Array[String]): Unit = {
    val modes = Set("explain", "show", "time", "stages", "plan")
    require(args.length >= 2 && modes(args(0)),
      "usage: graft.tools.Query <explain|show|time|stages|plan> " +
        "<q1,q2,...> [sfDir]")
    val mode = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
      .map(n => n -> SparkEntry.queries.getOrElse(n,
        sys.error(s"no registered query named $n"))).toSeq
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val spark = Session()

    val stages = ArrayBuffer[Stage]()
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stages.synchronized { jobs += 1 }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages.synchronized {
          stages += Stage(i.stageId, i.numTasks,
            i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
            i.taskMetrics.executorRunTime, i.taskMetrics.jvmGCTime, i.name)
        }
      }
    })

    def measure(name: String, fn: (SparkSession, String) => DataFrame)
        : Rep = {
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"[$mode] $name warm failed: ${e.getClass.getName}") }
      spark.catalog.clearCache()
      stages.synchronized { stages.clear(); jobs = 0 }
      val t = ArrayBuffer(System.nanoTime())
      val df = fn(spark, sfDir)
      t += System.nanoTime()
      df.queryExecution.assertAnalyzed()
      t += System.nanoTime()
      df.queryExecution.optimizedPlan
      t += System.nanoTime()
      df.queryExecution.executedPlan
      t += System.nanoTime()
      val n = df.count()
      t += System.nanoTime()
      Thread.sleep(700) // listener delivery is async
      val rep = stages.synchronized {
        Rep(df, n, t.toSeq.sliding(2).map(p => (p(1) - p(0)) / 1e9).toSeq,
          stages.toVector, jobs)
      }
      spark.catalog.clearCache()
      rep
    }

    names.foreach { case (name, fn) =>
      mode match {
        case "explain" => fn(spark, sfDir).explain("formatted")
        case "show" => fn(spark, sfDir).show(50, truncate = false)
        case "time" =>
          val r = measure(name, fn)
          val Seq(build, analyze, optimize, plan, exec) =
            r.phases.map(s => f"$s%.2f")
          println(s"[time] $name rows=${r.rows} build=$build " +
            s"analyze=$analyze optimize=$optimize plan=$plan exec=$exec " +
            f"total=${r.phases.sum}%.2f")
        case "stages" =>
          val r = measure(name, fn)
          val wall = r.phases.sum
          val covered = coveredMs(r.stages) / 1000.0
          println(f"[stages] $name rows=${r.rows} wall=$wall%.2f " +
            f"jobs=${r.jobs} stages=${r.stages.size} " +
            f"stageCovered=$covered%.2f gap=${wall - covered}%.2f " +
            f"task=${r.stages.map(_.taskMs).sum / 1000.0}%.1f " +
            f"gc=${r.stages.map(_.gcMs).sum / 1000.0}%.1f")
          r.stages.sortBy(-_.taskMs).take(6).foreach { s =>
            println(f"[stages]   stage=${s.id}%4d tasks=${s.tasks}%4d " +
              f"wall=${s.done - s.sub}%5d ms task=${s.taskMs}%7d ms " +
              f"gc=${s.gcMs}%5d " + s.name.take(90))
          }
        case "plan" =>
          val r = measure(name, fn)
          println(s"[plan] $name rows=${r.rows} " +
            s"plan=${Bench.planFingerprint(r.df)} " +
            s"plan2=${Bench.planFingerprint2(r.df)}")
          if (name == names.last._1)
            println(Bench.normalizePlanText(
              r.df.queryExecution.executedPlan.toString))
      }
    }
    spark.stop()
  }

  /** Wall milliseconds covered by at least one running stage. */
  private def coveredMs(ss: Seq[Stage]): Long = {
    val iv = ss.filter(s => s.sub > 0 && s.done > 0)
      .map(s => (s.sub, s.done)).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    covered + (if (curE > curS) curE - curS else 0L)
  }
}
