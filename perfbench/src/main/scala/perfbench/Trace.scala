package perfbench

import scala.collection.mutable

import graft.io.PerfTracker

/** One timed call into a layer. Times are nanoseconds from the tracer's
  * origin; `parent` is the enclosing span's id (-1 for a tick root). */
case class Span(id: Int, name: String, tick: Int, parent: Int,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Each span brackets one
  * public call whose work the caller has already forced with an action,
  * and carries the `PerfTracker` deltas (tasks, task time, GC, shuffle,
  * spill, bytes written) of the jobs that ran inside it. Spans stay in
  * memory; [[write]] renders them once, at the end of the run. */
class Tracer(perf: PerfTracker, val tag: String) {
  private val origin = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  private def quiesced(): perf.Snapshot = {
    perf.awaitQuiesce(stableMs = 25, timeoutMs = 2000)
    perf.snapshot()
  }

  def span[A](name: String, tick: Int)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val before = quiesced()
    open.push(id)
    val t0 = System.nanoTime()
    val out = try body finally open.pop()
    val t1 = System.nanoTime()
    val after = quiesced()
    done += Span(id, name, tick, parent, t0 - origin, t1 - origin, Map(
      "tasks" -> (after.processed - before.processed).toDouble,
      "task_ms" -> (after.executorRunTimeMs - before.executorRunTimeMs).toDouble,
      "gc_ms" -> (after.jvmGcTimeMs - before.jvmGcTimeMs).toDouble,
      "shuffle_bytes" -> (after.shuffleBytesWritten - before.shuffleBytesWritten).toDouble,
      "spill_bytes" -> (after.spilledBytes - before.spilledBytes).toDouble,
      "bytes_written" -> (after.bytesWritten - before.bytesWritten).toDouble))
    out
  }

  /** Attach counts measured after the fact (row counts, file sizes) to
    * the most recent span of that name in `tick`. */
  def count(name: String, tick: Int, kv: (String, Double)*): Unit = {
    val i = done.lastIndexWhere(s => s.name == name && s.tick == tick)
    require(i >= 0, s"no span $name in tick $tick")
    done(i) = done(i).copy(counters = done(i).counters ++ kv)
  }

  /** A span's own time: its duration minus the part its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def write(path: java.nio.file.Path, stamp: String): Unit = {
    val lines = Iterator(stamp) ++ done.iterator.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"run":"$tag","span":"${s.name}","id":${s.id},"parent":${s.parent},""" +
        s""""tick":${s.tick},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${Json.num(selfSeconds(s))},"counters":{$cs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }
}

object Json {
  /** Full-precision JSON number (no locale, no rounding). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
