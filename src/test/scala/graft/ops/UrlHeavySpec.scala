package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UrlHeavySpec extends SparkSpec {
  import spark.implicits._

  private def canon(url: String): String =
    Seq(url).toDF("u").select(UrlOps.canonicalizeUrl($"u")).as[String]
      .collect().head

  test("canonicalizeUrl: case, default ports, tracking params, sort, " +
      "trailing slash, fragment") {
    assert(canon("HTTP://Example.COM:80/a/?utm_source=x&b=2&a=1#frag") ==
      "http://example.com/a?a=1&b=2")
    assert(canon("https://Host.org:443/") == "https://host.org/")
    // non-default port survives
    assert(canon("http://h.io:8080/x") == "http://h.io:8080/x")
    // https keeps :80 (not its default)
    assert(canon("https://h.io:80/x") == "https://h.io:80/x")
    // no query, empty path → root
    assert(canon("http://h.io") == "http://h.io/")
    // only tracking params → no query at all
    assert(canon("http://h.io/p?utm_campaign=c&gclid=g") == "http://h.io/p")
  }

  test("canonicalizeUrl is idempotent: a canonical URL maps to itself") {
    val urls = Seq(
      "HTTP://Example.COM:80/a/?utm_source=x&b=2&a=1#frag",
      "https://Host.org:443/",
      "http://h.io:8080/x?z=1&y=2",
      "http://h.io",
    ).toDF("u")
    val once = urls.select(UrlOps.canonicalizeUrl($"u").as("c"))
    val twice = once.select(UrlOps.canonicalizeUrl($"c").as("c2"))
    assert(once.as[String].collect().toSeq ==
      twice.as[String].collect().toSeq)
  }

  test("canonicalizeUrl collapses surface variants to one dedup key") {
    val variants = Seq(
      "http://A.com/path?b=2&a=1",
      "HTTP://a.COM:80/path/?a=1&b=2#x",
      "http://a.com/path?utm_source=s&a=1&b=2",
    ).toDF("u")
    val keys = variants.select(UrlOps.canonicalizeUrl($"u")).distinct()
      .as[String].collect()
    assert(keys.toSeq == Seq("http://a.com/path?a=1&b=2"))
  }

  test("NormalizeUnicode: NFC composes, NFKC folds compatibility forms, " +
      "null passes through, SQL registration works") {
    import graft.functions.NormalizeUnicode
    val df = Seq(
      (1L, "e\u0301"),  // decomposed é → NFC composes to U+00E9
      (2L, "\u00e9"),   // already composed → unchanged
      (3L, "\ufb01le"), // fi-ligature: NFC keeps, NFKC folds to "fi"
      (4L, null.asInstanceOf[String]),
    ).toDF("id", "t")
    val out = df.select($"id", NormalizeUnicode($"t").as("nfc"),
        NormalizeUnicode($"t", "NFKC").as("nfkc"))
      .as[(Long, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((Some("\u00e9"), Some("\u00e9"))))
    assert(out(2L) == ((Some("\u00e9"), Some("\u00e9"))))
    assert(out(3L) == ((Some("\ufb01le"), Some("file"))))
    assert(out(4L) == ((None, None)))
    intercept[IllegalArgumentException] { NormalizeUnicode($"t", "NFX") }
    val viaSql = spark.sql(
      "SELECT graft_normalize('e' || '\u0301', 'NFC')").as[String].collect()
    assert(viaSql.toSeq == Seq("\u00e9"))
  }

  test("exactHeavyHitters finds exactly the keys above n/k, " +
      "independent of partitioning") {
    // 1000 rows: "hot" owns 200 (20% > 1/5), "warm" 120 (12% < 1/5 at
    // k=5? 1/5 = 20% → warm excluded, hot exactly 20% is NOT > n/k)
    // use k=6: threshold 16.7% → hot in, warm out
    val rows = (Seq.fill(200)("hot") ++ Seq.fill(120)("warm") ++
      (1 to 680).map(i => s"u$i")).toDF("k")
    def run(parts: Int) = HeavyHitters
      .exactHeavyHitters(rows.repartition(parts), "k", k = 6)
      .as[(String, Long)].collect().toSet
    assert(run(1) == Set(("hot", 200L)))
    assert(run(7) == Set(("hot", 200L)))
    assert(run(32) == Set(("hot", 200L)))
  }

  test("exactHeavyHitters: uniform data yields an empty result") {
    val rows = (1 to 500).map(i => s"u$i").toDF("k")
    assert(HeavyHitters.exactHeavyHitters(rows, "k", k = 10).isEmpty)
  }

  test("exactHeavyHitters reports a heavy NULL key instead of silently " +
      "dropping it") {
    // 300 nulls of 1000 rows (30% > 1/6): the missing-value skew this
    // diagnostic exists to catch — null lands in ONE shuffle partition
    val rows = (Seq.fill(300)(Option.empty[String]) ++
      Seq.fill(250)(Some("hot")) ++ (1 to 450).map(i => Some(s"u$i")))
      .toDF("k")
    val out = HeavyHitters.exactHeavyHitters(rows.repartition(7), "k", k = 6)
      .as[(Option[String], Long)].collect().toSet
    assert(out == Set((None, 300L), (Some("hot"), 250L)))
    // all-null input: null is the only candidate
    val allNull = Seq.fill(10)(Option.empty[String]).toDF("k")
    val out2 = HeavyHitters.exactHeavyHitters(allNull, "k", k = 2)
      .as[(Option[String], Long)].collect().toSet
    assert(out2 == Set((None, 10L)))
  }

  test("MisraGries summary: guaranteed retention of keys above n/k " +
      "under adversarial reduce/merge orders") {
    val mg = new HeavyHitters.MisraGries(3)
    // 12 items, "a" has 5 > 12/3 — must survive any order
    val items = Seq.fill(5)("a") ++ Seq("b", "c", "d", "e", "f", "g", "h")
    val orders = Seq(items, items.reverse, items.sorted)
    orders.foreach { o =>
      val (left, right) = o.splitAt(6)
      val b1 = left.foldLeft(mg.zero)(mg.reduce)
      val b2 = right.foldLeft(mg.zero)(mg.reduce)
      val merged = mg.merge(b1, b2)
      assert(merged.size <= 3)
      assert(merged.contains("a"), s"order $o lost the heavy key")
    }
  }
}
