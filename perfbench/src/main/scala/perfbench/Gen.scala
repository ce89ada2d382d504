package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** One source row as the merge sees it, restricted to the columns the
  * output check compares. `udTruthy` says whether the row carries a
  * non-empty `updated_date` (J3 unpublish markers carry none). */
case class SrcRow(id: String, price: Option[Double], unpub: Option[Boolean],
    status: Option[String], udTruthy: Boolean)

/** A master row as seeded or restated (the compared columns). */
case class MasterRow(id: String, price: Option[Double], tpc: Option[Long],
    pc: Option[String], unpub: Option[Boolean], status: Option[String])

/** Workload sizes. Every size the benchmark runs is here, so the
  * benchmark's description and its code cannot drift apart. */
case class Sizes(
    active: Int,        // listings live at the start (search / deep)
    history: Int,       // unpublished rows pre-seeded into the master
    perTick: Int,       // deep: pages re-scraped; stream: update rows
    keysPerTick: Int,   // stream: distinct keys touched per tick
    // untimed warm ticks between the cold tick and the measured window:
    // short streaming ticks keep getting faster for ~15 ticks as the JIT
    // compiles the merge path, which would otherwise set their median by
    // how many ticks fit in the window. A count, not a time, so a slower
    // host warms the same code just as far.
    warmupTicks: Int = 0)

object Gen {
  /** Search cards per result page, as on the reference site. */
  val CardsPerPage = 28
  val AsOfFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  /** Tick k runs one hour after tick k-1; the master is seeded at hour 0. */
  val Epoch = LocalDateTime.of(2026, 8, 1, 0, 0)
  def asOf(tick: Int): String = Epoch.plusHours(tick + 1L).format(AsOfFmt)
  def seedDate: String = Epoch.format(AsOfFmt)

  def url(id: Long): String = s"https://www.cian.ru/rent/flat/$id"

  /** Prices are whole multiples of 500 ₽ rendered the way the site does
    * ("55 000 ₽/мес."), so parse → normalize yields exact doubles. */
  def renderPrice(p: Long): String = {
    val s = p.toString
    val groups = s.reverse.grouped(3).map(_.reverse).toSeq.reverse
    groups.mkString(" ") + " ₽/мес."
  }

  def newPrice(r: SplittableRandom): Long = 20000L + 500L * r.nextInt(360)

  /** A price different from `p`, still positive. */
  def movedPrice(r: SplittableRandom, p: Long): Long = {
    val step = 500L * (1 + r.nextInt(10))
    if (r.nextBoolean() || p - step < 10000L) p + step else p - step
  }

  private val streets = Array("Тверская улица", "Арбат", "Ленинский проспект",
    "Мира проспект", "Профсоюзная улица", "Садовая улица", "Кутузовский проспект")
  private val metros = Array("Арбатская", "Тверская", "Пушкинская",
    "Киевская", "Проспект Мира", "Октябрьская", "Динамо")
  private val features = Array("Холодильник", "Посудомоечная машина",
    "Стиральная машина", "Кондиционер", "Интернет", "Ванна", "Телевизор",
    "Мебель на кухне", "Душевая кабина", "Мебель в комнатах")
  private val renovations = Array("Евроремонт", "Косметический", "Дизайнерский")

  /** Stable per-listing facts: derived from the id alone, so a listing
    * renders the same title/address on every tick. */
  private def facts(id: Long) = {
    val r = new SplittableRandom(id * 0x9E3779B97F4A7C15L)
    val rooms = 1 + r.nextInt(4)
    val area = 20 + r.nextInt(90)
    val areaFrac = r.nextInt(10)
    val floors = 5 + r.nextInt(20)
    val floor = 1 + r.nextInt(floors)
    val street = streets(r.nextInt(streets.length))
    val house = 1 + r.nextInt(120)
    val metro = metros(r.nextInt(metros.length))
    (s"$rooms-комн. кв., $area,$areaFrac м², $floor/$floors этаж",
      s"$area,$areaFrac м²", s"$floor из $floors", street, house, metro,
      1950 + r.nextInt(70))
  }

  private def geo(id: Long, withMetroItem: Boolean): String = {
    val (_, _, _, street, house, metro, _) = facts(id)
    val under = if (withMetroItem)
      s"""  <div data-name="UndergroundItem"><a>м. $metro</a><span>${5 + id % 20} мин. пешком</span></div>
""" else ""
    s"""<div data-name="Geo">
  <div itemprop="name" content="Москва, $street, $house"></div>
$under  <a data-name="AddressItem" href="https://www.cian.ru/kupit-kvartiru-moskva/">Москва</a>
  <a data-name="AddressItem" href="https://www.cian.ru/?district%5B0%5D=13">ЦАО</a>
  <a data-name="AddressItem" href="https://www.cian.ru/ulitsa-${id % 997}/">$street</a>
  <a data-name="AddressItem" href="https://www.cian.ru/?house%5B0%5D=$id">$house</a>
  <a data-name="AddressItem" href="https://www.cian.ru/?metro%5B0%5D=${id % 200}">м. $metro</a>
</div>
"""
  }

  private def hhmm(tick: Int, id: Long): String = {
    val t = Epoch.plusHours(tick + 1L)
    f"${t.getHour}%02d:${(id % 60).toInt}%02d"
  }

  /** One search-result card (the site's CardComponent shape). */
  def card(id: Long, price: Long, tick: Int): String = {
    val (title, _, _, _, _, _, _) = facts(id)
    s"""  <article data-name="CardComponent">
    <div data-name="LinkArea"><a href="${url(id)}/">card</a></div>
    <span data-mark="OfferTitle"><span>$title</span></span>
    <span data-mark="MainPrice"><span>${renderPrice(price)}</span></span>
    <p data-mark="PriceInfo">на год, комм. платежи включены, комиссия 50%, залог ${renderPrice(price).stripSuffix("/мес.")}</p>
    <div data-testid="metadata-updated-date"><span>Обновлено: сегодня ${hhmm(tick, id)}</span></div>
    <div data-name="Description"><span>Квартира $id, светлая, у метро.</span></div>
    <div data-name="Gallery">
      <img src="https://images.cdn-cian.ru/$id-a-4.jpg"/>
      <img src="https://images.cdn-cian.ru/$id-b-2.jpg"/>
    </div>
  ${geo(id, withMetroItem = false)}  </article>
"""
  }

  def searchPage(cards: Seq[String], total: Int): String =
    s"""<html><body>
<div data-name="SummaryHeader"><h1>Найдено $total объявлений</h1></div>
<div data-name="Offers">
${cards.mkString}</div>
</body></html>
"""

  /** A full listing page: label bags, features, gallery, estimation and
    * offer stats (what the daily deep run re-scrapes). */
  def detailPage(id: Long, price: Long, unpublished: Boolean, tick: Int): String = {
    val (title, area, floorOf, _, _, _, built) = facts(id)
    val r = new SplittableRandom(id * 31 + tick)
    val feats = features.filter(_ => r.nextInt(3) == 0)
      .map(f => s"""<div data-name="FeaturesItem">$f</div>""").mkString("\n")
    val gallery = (0 until 3 + r.nextInt(5))
      .map(i => s"""  <img src="https://images.cdn-cian.ru/$id-$i-4.jpg"/>""")
      .mkString("\n")
    val views = 100 + r.nextInt(5000)
    val unpub = if (unpublished)
      """<div data-name="OfferUnpublished">Объявление снято с публикации</div>
""" else ""
    s"""<html><body>
$unpub<div data-name="OfferMetaData">
  <div data-testid="metadata-updated-date"><span>Обновлено: сегодня ${hhmm(tick, id)}</span></div>
  <div data-name="OfferStats"><span>$views просмотров, ${views % 97} за сегодня, ${views / 2} уникальных</span></div>
</div>
<span data-mark="OfferTitle"><span>$title</span></span>
<div data-testid="valuation_offerPrice"><span>${renderPrice(price)}</span></div>
<div data-testid="valuation_estimationPrice"><span>${renderPrice(price + 500L * r.nextInt(8)).stripSuffix("/мес.")}</span></div>
<div data-name="Description"><span>Квартира $id. ${"Полностью меблирована. " * (1 + r.nextInt(4))}</span></div>
<div data-name="OfferFactItem"><span>Срок аренды</span><span>длительный</span></div>
<div data-name="OfferFactItem"><span>Залог</span><span>${renderPrice(price).stripSuffix("/мес.")}</span></div>
<div data-name="ObjectFactoidsItem"><span>Общая площадь</span><span>$area</span></div>
<div data-name="ObjectFactoidsItem"><span>Этаж</span><span>$floorOf</span></div>
<div data-name="ObjectFactoidsItem"><span>Год постройки</span><span>$built</span></div>
<div data-name="OfferSummaryInfoItem"><p>Ремонт</p><p>${renovations(r.nextInt(renovations.length))}</p></div>
<div data-name="OfferSummaryInfoItem"><p>Санузел</p><p>Совмещённый</p></div>
$feats
${geo(id, withMetroItem = true)}<div data-name="Gallery">
$gallery
</div>
</body></html>
"""
  }
}

/** A stream update row (the flat, HTML-free restatement input). */
case class UpdateRow(offer_id: String, seq: Long, updated_date: String,
    price_value: Double, is_unpublished: Boolean, status: String,
    description: String) {
  def toSrc: SrcRow = SrcRow(offer_id, Some(price_value), Some(is_unpublished),
    Some(status), udTruthy = updated_date.nonEmpty)
  def csv: String =
    s"$offer_id,$seq,$updated_date,$price_value,$is_unpublished,$status,$description"
}

/** Seeded generator state for one workload. Everything it returns is a
  * pure function of (workload, seed, tick), drawn from one RNG stream in
  * tick order — the same seed replays byte-identical inputs. */
class WorkloadGen(val workload: String, seed: Long, val sizes: Sizes) {
  private val rng = new SplittableRandom(seed * 1000003L + workload.hashCode)
  private var nextId = 100000L
  private def freshId(): Long = { nextId += 1 + rng.nextInt(3); nextId }

  /** Live listings: id → price, in insertion order (deterministic). */
  private val live = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
  /** Unpublished listings that may come back. */
  private val gone = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
  private var seq = 0L
  private var cursor = 0

  /** Initial master rows (seeded directly, not through the parse path). */
  val seedRows: Vector[MasterRow] = {
    val b = Vector.newBuilder[MasterRow]
    for (_ <- 0 until sizes.history) {
      val id = freshId(); val p = Gen.newPrice(rng)
      gone(id) = p
      val changes = rng.nextInt(3)
      val hist = if (changes == 0) None
        else Some(Seq.fill(changes)((rng.nextInt(11) - 5) * 500L).mkString(", "))
      b += MasterRow(id.toString, Some(p.toDouble),
        if (changes == 0) None else Some(changes.toLong), hist,
        Some(true), Some("non active"))
    }
    for (_ <- 0 until sizes.active) {
      val id = freshId(); val p = Gen.newPrice(rng)
      live(id) = p
      b += MasterRow(id.toString, Some(p.toDouble), None, None,
        Some(false), Some("active"))
    }
    b.result()
  }

  /** hourly_search tick: ~3% of live listings vanish, ~3% appear (a third
    * of them returning from the unpublished pool), ~10% change price.
    * Returns the search pages and the cards' source rows. The J3 markers
    * for vanished ids are the restatement's job, not the generator's. */
  def searchTick(tick: Int): (Seq[String], Seq[SrcRow]) = {
    val n = live.size
    val vanish = live.keys.filter(_ => rng.nextInt(100) < 3).toVector
    vanish.foreach(id => gone(id) = live.remove(id).get)
    val arrivals = math.max(1, n * 3 / 100)
    val pool = gone.keys.toVector
    for (_ <- 0 until arrivals) {
      if (rng.nextInt(3) == 0 && pool.nonEmpty) {
        val id = pool(rng.nextInt(pool.size))
        gone.remove(id).foreach(p => live(id) = if (rng.nextBoolean()) p else Gen.movedPrice(rng, p))
      } else live(freshId()) = Gen.newPrice(rng)
    }
    for ((id, p) <- live.toVector if rng.nextInt(10) == 0)
      live(id) = Gen.movedPrice(rng, p)
    val ids = live.keys.toVector
    val cards = ids.map(id => Gen.card(id, live(id), tick))
    val pages = cards.grouped(Gen.CardsPerPage)
      .map(cs => Gen.searchPage(cs, ids.size)).toVector
    val rows = ids.map(id => SrcRow(id.toString, Some(live(id).toDouble),
      Some(false), Some("active"), udTruthy = true))
    (pages, rows)
  }

  /** daily_deep tick: re-scrape the next `perTick` listings round-robin
    * (plus ~2% new ones) as full listing pages. ~10% change price, ~3%
    * are unpublished, a third of the unpublished come back. */
  def deepTick(tick: Int): (Seq[(Long, String)], Seq[SrcRow]) = {
    val all = (live.keys ++ gone.keys).toVector.sorted
    val picked = (0 until math.min(sizes.perTick, all.size))
      .map(i => all((cursor + i) % all.size)).distinct
    cursor = (cursor + sizes.perTick) % math.max(1, all.size)
    val fresh = (0 until math.max(1, sizes.perTick / 50)).map { _ =>
      val id = freshId(); live(id) = Gen.newPrice(rng); id
    }
    val out = (picked ++ fresh).map { id =>
      val (p, unpub) =
        if (live.contains(id)) {
          if (!fresh.contains(id) && rng.nextInt(100) < 3) {
            val p = live.remove(id).get; gone(id) = p; (p, true)
          } else {
            if (!fresh.contains(id) && rng.nextInt(10) == 0)
              live(id) = Gen.movedPrice(rng, live(id))
            (live(id), false)
          }
        } else if (rng.nextInt(3) == 0) {
          val p = Gen.movedPrice(rng, gone.remove(id).get); live(id) = p; (p, false)
        } else (gone(id), true)
      val html = Gen.detailPage(id, p, unpub, tick)
      ((id, html), SrcRow(id.toString, Some(p.toDouble), Some(unpub),
        Some(if (unpub) "non active" else "active"), udTruthy = true))
    }
    (out.map(_._1), out.map(_._2))
  }

  /** churn_stream tick: `perTick` update rows over `keysPerTick` keys,
    * in arrival (`seq`) order: price moves, unpublish / republish
    * transitions and description-only edits; ~1% of keys are new. */
  def streamTick(tick: Int): Seq[UpdateRow] = {
    val ud = Gen.asOf(tick)
    // keysPerTick distinct keys: a partial Fisher-Yates draw from the
    // known ids, each swapped for a brand-new id with probability 1%
    val known = (live.keys ++ gone.keys).toArray
    val keys = (0 until sizes.keysPerTick).map { i =>
      if (i < known.length) {
        val j = i + rng.nextInt(known.length - i)
        val k = known(j); known(j) = known(i); known(i) = k
      }
      if (i >= known.length || rng.nextInt(100) == 0) {
        val id = freshId(); live(id) = Gen.newPrice(rng); id
      } else known(i)
    }
    (0 until sizes.perTick).map { _ =>
      val id = keys(rng.nextInt(keys.size))
      val k = rng.nextInt(100)
      val unpub =
        if (live.contains(id) && k < 12) { gone(id) = live.remove(id).get; true }
        else if (gone.contains(id) && k < 40) { live(id) = gone.remove(id).get; false }
        else gone.contains(id)
      if (k >= 40 && k < 85) {
        if (live.contains(id)) live(id) = Gen.movedPrice(rng, live(id))
        else gone(id) = Gen.movedPrice(rng, gone(id))
      }
      val p = live.getOrElse(id, gone(id))
      seq += 1
      UpdateRow(id.toString, seq, ud, p.toDouble, unpub,
        if (unpub) "non active" else "active", s"d-$id-$seq")
    }
  }
}
