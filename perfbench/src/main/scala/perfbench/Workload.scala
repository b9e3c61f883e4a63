package perfbench

/** The shape of one benchmark workload. Every size is a count of
  * advisory rows `(cve_id, package)`; the daily churn counts are per
  * pipeline run. */
final case class Workload(
    name: String,
    /** advisory rows in the feed before the first measured run */
    baseRows: Int,
    /** share of feed rows without a fixed_version (the enrichment pool) */
    pendingShare: Double,
    /** new single-package CVEs per run that arrive already fixed */
    newFixedPerRun: Int,
    /** pending rows that gain a fixed_version in the feed per run */
    gainFixPerRun: Int,
    /** commit prod through the snapshot manifest instead of an overwrite */
    prodSnapshot: Boolean,
) {
  /** New CVEs per run, each listed under 1-3 packages, and whether the
    * feed already carries their fix. The pending ones (and the expiring
    * cached keys) are what each run sends to NVD. */
  val newCves: Seq[(Int, Boolean)] =
    Seq(3 -> true, 2 -> false, 1 -> false) ++ Seq.fill(newFixedPerRun)(1 -> true)
}

object Workload {
  /** manual not-applicable override rows per feed row (the reference's
    * 1,963 over 40,431) */
  val OverrideShare = 0.0486
  /** prod rows whose advisory left the feed (carried by the upsert) */
  val ProdOnlyShare = 0.005
  /** cached pending keys whose TTL lapses before each run */
  val ExpiringPerRun = 3

  /** The reference's production size: 40,431 feed rows, 1,963 overrides,
    * one output file per table, whole-table prod overwrite. */
  val Daily40k: Workload = Workload(
    name = "daily_40k", baseRows = 40400, pendingShare = 0.06,
    newFixedPerRun = 20, gainFixPerRun = 20, prodSnapshot = false)

  /** The same generator, size and churn with prod committed as a
    * bucketed snapshot: the commit and the lookups go through the
    * snapshot layer instead of a whole-table rewrite and a full scan. */
  val Daily40kSnapshot: Workload =
    Daily40k.copy(name = "daily_40k_snapshot", prodSnapshot = true)

  val all: Seq[Workload] = Seq(Daily40k, Daily40kSnapshot)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
