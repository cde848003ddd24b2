package flumebench

/** The correctness checks, as pure comparisons of what the engine
  * returned with what the generator's plain-Scala ground truth says it
  * must return. Each gives the problem found, if any. */
object Checks {
  def equal[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** A hashtable read: the latest live row of the key, or nothing once
    * the key is retracted. Rows are (seq, event_type, value, text). */
  def htGet(user: Long, got: Seq[(Long, String, Double, String)], want: Option[(Long, Event)]): Option[String] =
    want match {
      case None if got.nonEmpty => Some(s"ht_get($user): retracted key still present: ${got.head}")
      case None => None
      case Some((seq, e)) => equal(s"ht_get($user)", got, Seq((seq, e.eventType, e.value, e.text)))
    }

  def seqs(what: String, got: Seq[Long], want: Seq[Long]): Option[String] =
    if (got == want) None
    else Some(s"$what: ${got.size} seqs, want ${want.size}; first difference at " +
      got.zipAll(want, -1L, -1L).indexWhere { case (a, b) => a != b })

  def sum(got: Option[(Double, Long)], sum: Double, count: Long): Option[String] =
    equal("sum_read: (sum, count)", got, Some((sum, count)))

  def bloom(user: Long, hit: Boolean): Option[String] =
    if (hit) None else Some(s"bloom_check($user): false negative")

  /** A log read by seq: the generated row, or nothing once removed. Rows
    * are (user_id, text, value). */
  def logGet(seq: Long, got: Seq[(Long, String, Double)], want: Option[Event]): Option[String] =
    equal(s"log_get($seq)", got, want.toSeq.map(e => (e.userId, e.text, e.value)))

  /** A takedown removed exactly the rows the generator says match, and
    * it removed some: a takedown that matches nothing measures nothing. */
  def removed(what: String, got: Long, want: Long): Option[String] =
    if (want <= 0) Some(s"$what: the generator planted no matching rows")
    else equal(s"$what: rows removed", got, want)

  /** The curated set: every planted exact copy dropped, no unrelated
    * (original) doc dropped, and equal to the brute-force reference. */
  def curated(kept: Set[Long], batches: Seq[Seq[Doc]]): Seq[String] = {
    val all = batches.flatten
    val exactKept = all.filter(d => d.kind == Doc.Exact && kept(d.id)).map(_.id)
    val origDropped = all.filter(d => d.kind == Doc.Original && !kept(d.id)).map(_.id)
    val want = CurateReference.kept(batches)
    Seq(
      if (exactKept.isEmpty) None else Some(s"curate: ${exactKept.size} planted exact copies kept, e.g. ${exactKept.take(3)}"),
      if (origDropped.isEmpty) None else Some(s"curate: ${origDropped.size} unrelated docs dropped, e.g. ${origDropped.take(3)}"),
      if (kept == want) None else Some(s"curate: kept ${kept.size} docs, reference ${want.size}; " +
        s"only kept ${(kept -- want).take(5)}, only in reference ${(want -- kept).take(5)}")).flatten
  }
}
