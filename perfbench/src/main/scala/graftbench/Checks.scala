package graftbench

/** Output checks: pure functions over collected results, each returning the
  * failed assertions (empty = pass). */
object Checks {

  private def sample[T](xs: Iterable[T]): String = xs.take(3).mkString(", ")

  def equal[T](what: String, got: T, want: T): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  /** Same key set and bit-identical values. */
  def bitIdentical(what: String, got: Map[Long, Double], want: Map[Long, Double]): Seq[String] = {
    val bad = want.iterator.filter { case (k, v) =>
      !got.get(k).exists(x => java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(v))
    }.map(_._1).toSeq
    if (got.size == want.size && bad.isEmpty) Nil
    else Seq(s"$what: ${bad.size} of ${want.size} differ (sizes ${got.size}/${want.size}), e.g. ${sample(bad)}")
  }

  /** A topological order: no vertex carries the cycle sentinel (-1) and
    * every edge goes from a smaller order to a larger one. */
  def topoOrder(order: Map[Long, Double], edges: Seq[(Long, Long)]): Seq[String] = {
    val cyc = order.collect { case (k, v) if v < 0 => k }
    val back = edges.filterNot { case (s, d) =>
      (order.get(s), order.get(d)) match {
        case (Some(a), Some(b)) => a < b
        case _ => false
      }
    }
    (if (cyc.isEmpty) Nil else Seq(s"${cyc.size} vertices carry the cycle sentinel, e.g. ${sample(cyc)}")) ++
      (if (back.isEmpty) Nil else Seq(s"${back.size} edges not ordered src < dst, e.g. ${sample(back)}"))
  }
}
