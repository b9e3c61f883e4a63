package perfbench

import org.apache.spark.sql.Row

import scala.collection.mutable

/** The output checks. Every expectation comes from the generated world
  * (its model of prod after each run), never from the program's output.
  * Rows are projected to [[Checks.Cols]]. */
object Checks {
  val Cols: Seq[String] = Seq("cve_id", "package", "status", "fixed_version", "change_type")

  private def key(r: Row) = Key(r.getString(0), r.getString(1))

  /** After a daily run: prod's key set is the feed keys plus the prior
    * prod keys, no key repeats, the change_type counts over the feed
    * rows match the churn, every fix NVD dictated landed as
    * status='fixed' with its version, and NVD was asked about exactly
    * the expected CVEs. How many requests that took is the
    * `nvd_requests` metric, not a check: one request per distinct CVE
    * is as correct as one per (cve_id, package) key. */
  def daily(expected: collection.Map[Key, Expect], feedKeys: collection.Set[Key],
      plan: RunPlan, rows: Seq[Row], requestedCves: Seq[String]): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    val keys = rows.map(key)
    val keySet = keys.toSet
    if (keys.size != keySet.size)
      errors += s"${keys.size - keySet.size} duplicate (cve_id, package) keys in prod"
    if (keySet != expected.keySet)
      errors += "prod keys differ from feed + prior prod keys: " +
        s"${(expected.keySet -- keySet).size} missing, ${(keySet -- expected.keySet).size} unexpected"
    val changeTypes = rows.filter(r => feedKeys(key(r)))
      .groupBy(_.getString(4)).map { case (t, rs) => t -> rs.size }
    if (changeTypes != plan.changeTypes)
      errors += s"change_type counts $changeTypes, expected ${plan.changeTypes}"
    val byKey = rows.map(r => key(r) -> r).toMap
    val missedFixes = plan.fixes.count { case (k, v) =>
      !byKey.get(k).exists(r => r.getString(2) == "fixed" && r.getString(3) == v)
    }
    if (missedFixes > 0)
      errors += s"$missedFixes of ${plan.fixes.size} NVD fixes not in prod as status='fixed'"
    val (askedCves, plannedCves) = (requestedCves.toSet, plan.requested.map(_.cve).toSet)
    if (askedCves != plannedCves)
      errors += s"NVD asked about ${askedCves.size} CVEs, expected ${plannedCves.size}: " +
        s"${(plannedCves -- askedCves).size} missing, ${(askedCves -- plannedCves).size} unexpected"
    errors.toSeq
  }

  /** A lookup returns exactly the expected rows of the wanted keys. */
  def lookup(expected: collection.Map[Key, Expect], wanted: Seq[Key],
      rows: Seq[Row]): Option[String] = {
    val got = rows.map(r => key(r) -> Expect(r.getString(2), r.getString(3), r.getString(4)))
    val want = wanted.map(k => k -> expected(k))
    if (got.sortBy(_._1.pkg) == want.sortBy(_._1.pkg)) None
    else Some(s"lookup of ${wanted.head.cve} returned ${got.size} rows " +
      s"(${got.take(3).mkString(", ")}), expected ${want.size} (${want.take(3).mkString(", ")})")
  }
}
