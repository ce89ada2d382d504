package perfbench

import scala.collection.mutable

/** The output check's reference: the master restated with plain Scala
  * collections from the generator's ground truth. It re-derives the
  * MERGE rules for the compared columns (R1 last-non-null-wins, R4
  * unpublish transition, R5 price-change history) and J3's synthetic
  * unpublish markers, independently of `MergeListings` and of Spark. */
class Truth(seed: Iterable[MasterRow]) {
  val rows: mutable.Map[String, MasterRow] =
    mutable.HashMap.from(seed.map(r => r.id -> r))

  /** Ids the master holds as active: J3's `!coalesce(is_unpublished, false)`. */
  def activeIds: Set[String] =
    rows.valuesIterator.filterNot(_.unpub.contains(true)).map(_.id).toSet

  /** J3: every active id absent from the current search becomes a marker
    * row (offer_id, is_unpublished = true) with no other column. */
  def markers(current: Iterable[SrcRow]): Seq[SrcRow] = {
    val seen = current.iterator.map(_.id).toSet
    activeIds.toSeq.sorted.filterNot(seen)
      .map(id => SrcRow(id, None, Some(true), None, udTruthy = false))
  }

  /** Fold one batch, in arrival order, into the restated master. */
  def apply(batch: Iterable[SrcRow]): Unit =
    batch.foreach { r =>
      rows(r.id) = rows.get(r.id) match {
        case None => MasterRow(r.id, r.price, None, None, r.unpub, r.status)
        case Some(s) => Truth.update(s, r)
      }
    }
}

object Truth {
  def update(s: MasterRow, r: SrcRow): MasterRow = {
    val unpubTransition = r.udTruthy && r.unpub.contains(true) &&
      s.unpub.contains(false)
    val priceChanged = r.udTruthy && !unpubTransition &&
      r.price.isDefined && s.price.isDefined && r.price != s.price
    // int(src) - int(tgt): truncation toward zero on both sides
    lazy val diff = (r.price.get.toLong - s.price.get.toLong).toString
    MasterRow(s.id,
      price = r.price.orElse(s.price),
      tpc = if (priceChanged) Some(s.tpc.getOrElse(0L) + 1L) else s.tpc,
      pc = if (!priceChanged) s.pc
        else Some(s.pc.filter(_.nonEmpty).fold(diff)(h => s"$h, $diff")),
      unpub = r.unpub.orElse(s.unpub),
      status = r.status.orElse(s.status))
  }

  /** Every difference between the published master and the restatement,
    * as readable lines (empty when they agree). */
  def diff(expected: collection.Map[String, MasterRow],
      actual: Seq[MasterRow]): Seq[String] = {
    val out = Vector.newBuilder[String]
    val byId = actual.groupBy(_.id)
    byId.collect { case (id, rs) if rs.size > 1 =>
      out += s"$id: ${rs.size} master rows" }
    byId.keySet.diff(expected.keySet).toSeq.sorted
      .foreach(id => out += s"$id: in master, not expected")
    expected.keySet.diff(byId.keySet).toSeq.sorted
      .foreach(id => out += s"$id: expected, missing from master")
    for ((id, rs) <- byId; e <- expected.get(id) if rs.head != e)
      out += s"$id: master ${rs.head} != expected $e"
    out.result()
  }
}
