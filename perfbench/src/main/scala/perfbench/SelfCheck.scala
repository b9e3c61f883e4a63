package perfbench

import org.apache.spark.sql.Row

import java.io.File
import java.security.MessageDigest

/** Checks the benchmark itself:
  *
  *   1. the generator is deterministic per seed (byte-identical feed,
  *      same prior state, churn and NVD answers) and differs across
  *      seeds, and each run sends the same number of NVD requests;
  *   2. the share of NVD requests whose CVE is listed under more than
  *      one package, over seeds 1-10 (printed, for the workload notes);
  *   3. the output checks pass on the program's real output and fail on
  *      each deliberately wrong expectation.
  *
  * Usage: perfbench.SelfCheck --work DIR. Exits non-zero on a failure. */
object SelfCheck {
  /** a small world, so the pipeline part runs in seconds */
  val Tiny: Workload = Workload.Daily40k.copy(name = "selfcheck_2k", baseRows = 2000,
    pendingShare = 0.25, newFixedPerRun = 2, gainFixPerRun = 2)
  val TinySnapshot: Workload = Tiny.copy(name = "selfcheck_2k_snapshot", prodSnapshot = true)

  private var failures = 0
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def main(argv: Array[String]): Unit = {
    val work = new File(argv.sliding(2).collectFirst { case Array("--work", d) => d }
      .getOrElse(sys.error("usage: perfbench.SelfCheck --work DIR")))
    determinism()
    sharedShare()
    Seq(Tiny, TinySnapshot).foreach(w => checksCatchWrongExpectations(w, new File(work, w.name)))
    println(if (failures == 0) "self-check passed" else s"self-check: $failures failures")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def determinism(): Unit =
    (Workload.all :+ Tiny).foreach { w =>
      val (a, b, c) = (new World(w, 7), new World(w, 7), new World(w, 8))
      expect(sha(a.feedJson) == sha(b.feedJson), s"${w.name}: same seed, byte-identical feed JSON")
      expect(a.priorProdRows == b.priorProdRows && a.priorCacheRows == b.priorCacheRows &&
        a.overrideRows == b.overrideRows, s"${w.name}: same seed, same prior prod, cache and overrides")
      expect(sha(a.feedJson) != sha(c.feedJson), s"${w.name}: another seed, another feed")
      val (pa, pb) = (Seq.fill(5)(a.nextRun()), Seq.fill(5)(b.nextRun()))
      expect(pa == pb && sha(a.feedJson) == sha(b.feedJson),
        s"${w.name}: same seed, same churn, NVD answers and expected outcomes over 5 runs")
      def bodies(seed: Long, plans: Seq[RunPlan]) = plans.flatMap(p =>
        p.requested.map(k => Stub.body(k.cve, Stub.answer(seed, p.day, k.cve))))
      expect(bodies(7, pa) == bodies(7, pb) && bodies(7, pa) != bodies(8, pa),
        s"${w.name}: same seed, byte-identical NVD answers; another seed, other answers")
      expect(pa.map(_.requested.size).distinct.size == 1,
        s"${w.name}: every run sends the same number of NVD requests (${pa.head.requested.size})")
    }

  private def sharedShare(): Unit =
    Workload.all.foreach { w =>
      val (shared, total) = (1 to 10).map { seed =>
        val world = new World(w, seed)
        val plans = Seq.fill(5)(world.nextRun())
        val multi = world.feedKeys.groupBy(_.cve).collect { case (c, ks) if ks.size > 1 => c }.toSet
        (plans.map(_.requested.count(k => multi(k.cve))).sum, plans.map(_.requested.size).sum)
      }.reduce((x, y) => (x._1 + y._1, x._2 + y._2))
      println(f"info ${w.name}: ${shared.toDouble / total}%.3f of NVD requests " +
        s"($shared of $total, seeds 1-10, 5 runs each) ask for a CVE listed under several packages")
    }

  private def checksCatchWrongExpectations(w: Workload, work: File): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(cores, work)
    try {
      val bench = new Bench(spark, Main.Args(w, 7, 1, trace = false, work, None), cores, 0)
      val base = new File(work, "state")
      val (world, overrides) = bench.setUp(base)
      val day = bench.runDay(world, base, overrides, traced = false)
      val rows = day.rows.fold(e => throw e, identity)
      val cves = day.requests.map(_.cve)
      val plan = day.plan
      def daily(expected: collection.Map[Key, Expect] = world.prod, p: RunPlan = plan,
          rs: Seq[Row] = rows, cs: Seq[String] = cves) =
        Checks.daily(expected, world.feedKeys, p, rs, cs)
      println(s"     ${w.name}, prod ${if (w.prodSnapshot) "snapshot" else "overwrite"}:")
      expect(daily().isEmpty, "the pipeline's real output passes the daily checks")
      expect(daily(expected = world.prod.clone() += Key("CVE-1999-0001", "pkg-x") ->
        Expect("fixed", "1.0.0", "new")).nonEmpty, "an expected key missing from prod fails")
      expect(daily(rs = rows :+ rows.head).nonEmpty, "a duplicate key in prod fails")
      expect(daily(p = plan.copy(changeTypes = plan.changeTypes.updated("new",
        plan.changeTypes.getOrElse("new", 0) + 1))).nonEmpty, "a wrong change_type count fails")
      val (fixKey, _) = plan.fixes.headOption.getOrElse(plan.requested.head -> "")
      expect(daily(p = plan.copy(fixes = plan.fixes.updated(fixKey, "99.99.99"))).nonEmpty,
        "a wrong fixed version fails")
      expect(daily(cs = cves.distinct).isEmpty,
        "one NVD request per distinct CVE passes (the request count is a metric)")
      expect(daily(cs = cves.filterNot(_ == cves.head)).nonEmpty,
        "a CVE never asked of NVD fails")
      expect(daily(cs = cves :+ "CVE-1999-0001").nonEmpty, "an unexpected CVE asked of NVD fails")

      val path = bench.prodDir(base)
      val k = plan.fixes.keys.headOption.getOrElse(world.feedKeys.head)
      val keyRows = bench.keyLookup(path, k).toSeq
      expect(Checks.lookup(world.prod, Seq(k), keyRows).isEmpty, "a key lookup passes its check")
      expect(Checks.lookup(world.prod.clone() += k -> world.prod(k).copy(status = "will_not_fix"),
        Seq(k), keyRows).nonEmpty, "a key lookup with a wrong expected status fails")
      val cveKeys = world.prod.keys.filter(_.cve == k.cve).toSeq
      val cveRows = bench.cveLookup(path, k.cve).toSeq
      expect(Checks.lookup(world.prod, cveKeys, cveRows).isEmpty, "a CVE lookup passes its check")
      val absent = Key(k.cve, "pkg-absent")
      expect(Checks.lookup(world.prod.clone() += absent -> Expect("fixed", "1.0.0", "new"),
        cveKeys :+ absent, cveRows).nonEmpty, "a CVE lookup expecting one more row fails")
    } finally spark.stop()
  }
}
