package perfbench

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

/** Generator determinism and the restatement's own rules, without Spark. */
class GenSpec extends AnyFunSuite {
  private val sizes = Map(
    "hourly_search" -> Sizes(active = 60, history = 500, perTick = 0, keysPerTick = 0),
    "daily_deep" -> Sizes(active = 60, history = 10, perTick = 25, keysPerTick = 0),
    "churn_stream" -> Sizes(active = 60, history = 10, perTick = 400, keysPerTick = 50))

  /** Every input byte a workload's generator produces for three ticks. */
  private def inputs(workload: String, seed: Long): Array[Byte] = {
    val g = new WorkloadGen(workload, seed, sizes(workload))
    val sb = new StringBuilder
    g.seedRows.foreach(r => sb ++= r.toString += '\n')
    for (t <- 0 until 3) workload match {
      case "hourly_search" => g.searchTick(t)._1.foreach(sb ++= _)
      case "daily_deep" => g.deepTick(t)._1.foreach { case (id, html) => sb ++= s"$id\n$html" }
      case _ => g.streamTick(t).foreach(r => sb ++= r.csv += '\n')
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  for (w <- Workload.Names) {
    test(s"$w: the same seed gives byte-identical inputs") {
      assert(inputs(w, 7).sameElements(inputs(w, 7)))
    }
    test(s"$w: a different seed gives different inputs") {
      assert(!inputs(w, 7).sameElements(inputs(w, 8)))
    }
  }

  test("BENCHMARK.json names known workloads and states their sizes") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    val listed = spec.get("workloads").elements()
    assert(listed.hasNext)
    listed.forEachRemaining { w =>
      val name = w.get("name").asText
      assert(Workload.Names.contains(name), name)
      assert(w.get("why").asText.contains(Workload.sizeNote(name)), name)
    }
  }

  test("search ticks churn the live set: vanished ids become J3 markers") {
    val g = new WorkloadGen("hourly_search", 3, sizes("hourly_search"))
    val truth = new Truth(g.seedRows)
    val (_, cards) = g.searchTick(0)
    val markers = truth.markers(cards)
    assert(markers.nonEmpty)
    assert(markers.forall(m => m.unpub.contains(true) && !m.udTruthy && m.price.isEmpty))
    assert(markers.map(_.id).toSet.intersect(cards.map(_.id).toSet).isEmpty)
  }

  test("restatement: price change appends to the history, unpublish freezes price") {
    val s = MasterRow("1", Some(50000.0), Some(1L), Some("500"), Some(false), Some("active"))
    val moved = Truth.update(s, SrcRow("1", Some(49000.0), Some(false), Some("active"), udTruthy = true))
    assert(moved == s.copy(price = Some(49000.0), tpc = Some(2L), pc = Some("500, -1000")))
    // an unpublish transition never counts as a price change
    val gone = Truth.update(s, SrcRow("1", Some(49000.0), Some(true), Some("non active"), udTruthy = true))
    assert(gone.tpc == Some(1L) && gone.unpub == Some(true) && gone.status == Some("non active"))
    // a J3 marker (no updated_date) flips the flag and keeps status
    val marked = Truth.update(s, SrcRow("1", None, Some(true), None, udTruthy = false))
    assert(marked == s.copy(unpub = Some(true)))
  }

  test("check: a planted wrong price and a missed unpublish are both reported") {
    val g = new WorkloadGen("hourly_search", 5, sizes("hourly_search"))
    val truth = new Truth(g.seedRows)
    val (_, cards) = g.searchTick(0)
    val markers = truth.markers(cards)
    truth(cards ++ markers)
    val good = truth.rows.values.toSeq
    assert(Truth.diff(truth.rows, good).isEmpty)
    val victim = cards.head.id
    val wrongPrice = good.map(r =>
      if (r.id == victim) r.copy(price = r.price.map(_ + 500)) else r)
    assert(Truth.diff(truth.rows, wrongPrice).exists(_.startsWith(victim)))
    val missed = markers.head.id
    val notUnpublished = good.map(r =>
      if (r.id == missed) r.copy(unpub = Some(false)) else r)
    assert(Truth.diff(truth.rows, notUnpublished).exists(_.startsWith(missed)))
    assert(Truth.diff(truth.rows, good.filterNot(_.id == victim)).nonEmpty)
  }
}
