package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EditDistanceSpec extends SparkSpec {
  import spark.implicits._

  test("EditDistance: classic values, empties, and null propagation") {
    val df = Seq(
      ("kitten", "sitting"), ("", "abc"), ("ab", ""), ("same", "same"),
      ("ab", "ba"), ("abcdef", "azced"),
    ).toDF("a", "b")
    val out = df.select(EditDistance($"a", $"b")).as[Int].collect()
    assert(out.toSeq == Seq(3, 3, 2, 0, 2, 3))
    val withNull = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(EditDistance($"a", $"b")).collect()
    assert(withNull.head.isNullAt(0))
  }

  test("EditDistance: byte semantics match DuckDB's levenshtein " +
      "contract ('é' vs 'e' = 2) and cap saturates at cap+1") {
    val df = Seq(("é", "e")).toDF("a", "b")
    assert(df.select(EditDistance($"a", $"b")).as[Int].head() == 2)
    val capped = Seq(("aaaaaaaa", "bbbbbbbb")).toDF("a", "b")
    assert(capped.select(EditDistance($"a", $"b", 3)).as[Int].head() == 4)
    assert(capped.select(EditDistance($"a", $"b")).as[Int].head() == 8)
    // cap hit via length gap alone (early return, no DP)
    val gap = Seq(("ab", "abcdefgh")).toDF("a", "b")
    assert(gap.select(EditDistance($"a", $"b", 2)).as[Int].head() == 3)
  }

  test("SQL registration: graft_edit_distance and graft_lcs_length " +
      "evaluate through the function registry") {
    assert(spark.sql("SELECT graft_edit_distance('kitten', 'sitting')")
      .as[Int].head() == 3)
    assert(spark.sql("SELECT graft_edit_distance('aaaa', 'bbbb', 2)")
      .as[Int].head() == 3)
    assert(spark.sql(
      "SELECT graft_lcs_length(array('a','b','c'), array('b','c','d'))")
      .as[Int].head() == 2)
  }

  test("EditDistance: capped equals exact wherever exact <= cap " +
      "(randomized cross-check, interpreted + codegen paths)") {
    val rnd = new scala.util.Random(7)
    val strs = (0 until 40).map(_ =>
      (0 until rnd.nextInt(12)).map(_ => ('a' + rnd.nextInt(3)).toChar)
        .mkString)
    val pairs = for (a <- strs; b <- strs) yield (a, b)
    val df = pairs.toDF("a", "b")
      .select(EditDistance($"a", $"b").as("exact"),
        EditDistance($"a", $"b", 2).as("capped"))
    df.collect().foreach { r =>
      val (e, c) = (r.getInt(0), r.getInt(1))
      if (e <= 2) assert(c == e) else assert(c == 3)
    }
  }
}
