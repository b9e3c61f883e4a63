package perfbench

import org.apache.spark.sql.Row

import java.time.Instant
import scala.collection.mutable

final case class Key(cve: String, pkg: String)

/** One prod row as far as the output checks look at it. */
final case class Expect(status: String, fixed: String, changeType: String)

/** What the stubbed NVD says about one CVE on one run day. */
sealed trait Answer
object Answer {
  final case class Fix(version: String, including: Boolean) extends Answer {
    /** the fixed_version the program must extract from the answer */
    def extracted: String = if (including) s">$version" else version
  }
  final case class NoFix(status: String) extends Answer
  case object NotFound extends Answer
  case object Rejected extends Answer
}

/** The stubbed NVD: a pure function of (seed, run day, CVE id), so a
  * re-queried CVE can change its answer from one day to the next while
  * every answer repeats exactly for the same seed. */
object Stub {
  private val noFixStatuses =
    Array("Analyzed", "Awaiting Analysis", "Undergoing Analysis", "Modified")

  def mix(x0: Long): Long = { // SplitMix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def answer(seed: Long, day: Int, cve: String): Answer = {
    val h = mix(seed ^ mix(cve.hashCode.toLong ^ (day.toLong << 32)))
    val r = java.lang.Long.remainderUnsigned(h, 100).toInt
    if (r < 35) Answer.Fix(World.version(h >>> 8), including = (h & 3) == 0)
    else if (r < 65) Answer.NoFix(noFixStatuses(((h >>> 20) & 3).toInt))
    else if (r < 85) Answer.NotFound
    else Answer.Rejected
  }

  /** The NVD 2.0 response body for an answer. */
  def body(cve: String, a: Answer): String = {
    def vuln(status: String, configs: String) =
      s"""{"resultsPerPage":1,"totalResults":1,"vulnerabilities":[{"cve":{"id":"$cve","vulnStatus":"$status"$configs}}]}"""
    a match {
      case f: Answer.Fix =>
        val bound = if (f.including) "versionEndIncluding" else "versionEndExcluding"
        vuln("Analyzed", s""","configurations":[{"nodes":[{"operator":"OR","cpeMatch":[{"vulnerable":true,"$bound":"${f.version}"}]}]}]""")
      case Answer.NoFix(status) => vuln(status, "")
      case Answer.NotFound => """{"resultsPerPage":0,"totalResults":0,"vulnerabilities":[]}"""
      case Answer.Rejected => vuln("Rejected", "")
    }
  }
}

/** What one pipeline run must do, derived from the generated inputs
  * alone: the keys it must send to NVD, the change_type counts over the
  * feed rows, and the fixes NVD dictates. */
final case class RunPlan(
    day: Int,
    now: Instant,
    toEnrich: Int,
    requested: Seq[Key],
    changeTypes: Map[String, Int],
    fixes: Map[Key, String],
)

/** The benchmark's generated world for one (workload, seed): the
  * advisory feed, the override table, the prior prod and cache state,
  * the daily churn, and a model of the pipeline's contract that says
  * what prod must hold after each run. Everything is drawn from `seed`;
  * nothing is read back from the program to build an expectation. */
final class World(val w: Workload, val seed: Long) {
  import World._

  private val rnd = new java.util.SplittableRandom(seed)
  private val nPackages = math.max(16, w.baseRows / 8)
  private def pkgName(i: Int) = f"pkg-$i%06d"

  /** package -> (cve -> fixed_version or null), in insertion order (the
    * feed document's order). */
  private val feed = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, String]]
  private val feedFixed = mutable.HashMap.empty[Key, String]
  private def addFeed(k: Key, fixed: String): Unit = {
    feed.getOrElseUpdate(k.pkg, mutable.LinkedHashMap.empty)(k.cve) = fixed
    feedFixed(k) = fixed
  }

  /** expected prod state after the last modelled run */
  val prod = mutable.HashMap.empty[Key, Expect]
  /** expected enrichment cache: key -> last_accessed (epoch seconds) */
  private val cache = mutable.HashMap.empty[Key, Long]
  private var gainFixPool: List[Key] = Nil
  private var nextDay = 0

  private def version(): String = World.version(rnd.nextLong())

  private def distinctPackages(m: Int): Seq[String] = {
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < m) picked += rnd.nextInt(nPackages)
    picked.toSeq.map(pkgName)
  }

  private def shuffled[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  // ---- base feed: CVEs listed under 1-3 packages
  locally {
    var rows = 0
    var cveNo = 0
    while (rows < w.baseRows) {
      val r = rnd.nextInt(100)
      val m = math.min(if (r < 80) 1 else if (r < 93) 2 else 3, w.baseRows - rows)
      val cve = f"CVE-${2015 + rnd.nextInt(11)}-${10000 + cveNo}%d"
      cveNo += 1
      distinctPackages(m).foreach { p =>
        addFeed(Key(cve, p),
          if (rnd.nextDouble() < w.pendingShare) null else version())
      }
      rows += m
    }
  }

  private val baseKeys: IndexedSeq[Key] =
    feed.iterator.flatMap { case (p, cves) => cves.keys.map(Key(_, p)) }.toIndexedSeq
  private val (basePending, baseFixed) = baseKeys.partition(k => feedFixed(k) == null)

  // ---- overrides: mostly already-fixed rows, some pending rows (which
  // then never reach NVD), some keys absent from the feed; every 7th is
  // written with a lower-case CVE id (the match is case-insensitive)
  private val overrides: IndexedSeq[Key] = {
    val n = math.round(w.baseRows * Workload.OverrideShare).toInt
    val nPending = n / 10
    val nAbsent = n / 10
    val absent = (0 until nAbsent).map(i =>
      Key(f"CVE-2014-${70000 + i}%d", pkgName(rnd.nextInt(nPackages))))
    (shuffled(basePending).take(nPending) ++
      shuffled(baseFixed).take(n - nPending - nAbsent) ++ absent)
      .zipWithIndex.map { case (k, i) =>
        if (i % 7 == 0) k.copy(cve = k.cve.toLowerCase) else k
      }
  }
  private val overridden: Set[(String, String)] =
    overrides.iterator.map(k => (k.cve.toLowerCase, k.pkg.toLowerCase)).toSet
  private def isOverridden(k: Key) = overridden((k.cve.toLowerCase, k.pkg.toLowerCase))

  // ---- prior prod and cache state
  /** Prior prod rows (full cveStateMachine rows) for the setup write. */
  val priorProdRows: IndexedSeq[Row] = {
    val rows = mutable.ArrayBuffer.empty[Row]
    def put(k: Key, status: String, fixed: String): Unit = {
      prod(k) = Expect(status, fixed, "unchanged")
      rows += Row(k.cve, k.pkg, status, status, fixed,
        "CVE identified. Awaiting analysis.", "production",
        if (status == "pending_upstream") 0 else 5,
        if (status == "pending_upstream") null else "2026-01-01T00:00:00Z",
        true, "No change required", "unchanged")
    }
    baseFixed.foreach(k => put(k, "pending_upstream", feedFixed(k)))
    basePending.foreach { k =>
      if (isOverridden(k)) put(k, "pending_upstream", null)
      else {
        val r = rnd.nextInt(100)
        if (r < 80) put(k, "pending_upstream", null)
        else if (r < 90) put(k, "fixed", version())
        else if (r < 96) put(k, "not_applicable", null)
        else put(k, "unknown", null)
      }
    }
    val nProdOnly = math.round(w.baseRows * Workload.ProdOnlyShare).toInt
    (0 until nProdOnly).foreach { i =>
      put(Key(f"CVE-2013-${50000 + i}%d", pkgName(rnd.nextInt(nPackages))),
        "fixed", version())
    }
    rows.toIndexedSeq
  }

  /** Prior cache rows. The enrichable pending keys were all enriched
    * before; their last_accessed is staggered so that exactly
    * `Workload.ExpiringPerRun` of them fall out of the TTL before each run. */
  val priorCacheRows: IndexedSeq[Row] = {
    val enrichable = shuffled(basePending.filterNot(isOverridden))
    val scheduled = Workload.ExpiringPerRun * MaxRuns
    require(enrichable.size >= scheduled + w.gainFixPerRun * MaxRuns,
      s"${w.name}: too few pending rows for $MaxRuns runs of churn")
    val t0 = T0.getEpochSecond
    enrichable.zipWithIndex.foreach { case (k, j) =>
      cache(k) =
        if (j < scheduled)
          t0 - TtlSeconds + (j / Workload.ExpiringPerRun) * SpacingSeconds - SpacingSeconds / 2
        else t0 - SpacingSeconds / 2
    }
    gainFixPool = enrichable.drop(scheduled).reverse.toList
    enrichable.map(k => Row(k.cve, k.pkg, "nvd",
      java.sql.Timestamp.from(Instant.ofEpochSecond(cache(k)))))
  }

  val overrideRows: IndexedSeq[Row] = overrides.map(k =>
    Row(k.cve, k.pkg, "not_applicable", null, "Manually marked not applicable."))

  def feedKeys: collection.Set[Key] = feedFixed.keySet

  /** The feed document as the HTTP source serves it. */
  def feedJson: String = {
    val sb = new java.lang.StringBuilder(feedFixed.size * 48)
    sb.append('{')
    var firstPkg = true
    feed.foreach { case (p, cves) =>
      if (!firstPkg) sb.append(',')
      firstPkg = false
      sb.append('"').append(p).append("\":{")
      var first = true
      cves.foreach { case (c, fixed) =>
        if (!first) sb.append(',')
        first = false
        sb.append('"').append(c).append("\":{")
        if (fixed != null) sb.append("\"fixed_version\":\"").append(fixed).append('"')
        sb.append('}')
      }
      sb.append('}')
    }
    sb.append('}').toString
  }

  /** Apply the next day's churn to the feed and model the run on it:
    * returns what the run must do and advances the expected prod and
    * cache state. */
  def nextRun(): RunPlan = {
    val day = nextDay
    require(day < MaxRuns, s"at most $MaxRuns runs per process")
    nextDay += 1
    // churn: new CVEs (some under several packages), pending rows that
    // gain a fix
    w.newCves.zipWithIndex.foreach { case ((m, fixedInFeed), i) =>
      val cve = f"CVE-2026-${100000 + day * 1000 + i}%d"
      distinctPackages(m).foreach { p =>
        addFeed(Key(cve, p), if (fixedInFeed) version() else null)
      }
    }
    (0 until w.gainFixPerRun).foreach { _ =>
      val k = gainFixPool.head
      gainFixPool = gainFixPool.tail
      addFeed(k, version())
    }

    val now = T0.plusSeconds(day.toLong * SpacingSeconds)
    val cutoff = now.getEpochSecond - TtlSeconds
    val keys = feedFixed.keys.toIndexedSeq
    val toEnrich = keys.filter(k =>
      !isOverridden(k) && { val f = feedFixed(k); f == null || f.isEmpty })
    val requested = toEnrich.filter(k => cache.get(k).forall(_ < cutoff))
    val answers = requested.map(_.cve).distinct
      .map(c => c -> Stub.answer(seed, day, c)).toMap
    // normalized enrichment: (echo state, fixed_version) per found key
    val enriched: Map[Key, (String, String)] = requested.flatMap { k =>
      answers(k.cve) match {
        case f: Answer.Fix => Some(k -> ("fixed", f.extracted))
        case Answer.NoFix(_) => Some(k -> ("pending_upstream", null))
        case Answer.Rejected => Some(k -> ("not_applicable", null))
        case Answer.NotFound => None
      }
    }.toMap

    val changeTypes = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val fixes = mutable.HashMap.empty[Key, String]
    val processed = keys.map { k =>
      val p = prod.get(k)
      val e = enriched.get(k)
      val prev = p.fold("unknown")(_.status)
      val proposed = e.map(_._1).orElse(p.map(_.status)).getOrElse("pending_upstream")
      val valid = isValidTransition(prev, proposed)
      val status = applyTransition(prev, proposed)
      val fixed = Option(e.map(_._2).orNull)
        .orElse(p.flatMap(x => Option(x.fixed)))
        .getOrElse(feedFixed(k))
      val changeType =
        if (p.isEmpty) "new"
        else if (!valid) "blocked"
        else if (e.nonEmpty && prev != status) "status_changed"
        else if (e.nonEmpty) "enriched_unchanged"
        else "unchanged"
      changeTypes(changeType) += 1
      if (e.exists(_._1 == "fixed") && status == "fixed") fixes(k) = e.get._2
      k -> Expect(status, fixed, changeType)
    }
    prod ++= processed
    requested.foreach(k => cache(k) = now.getEpochSecond)
    RunPlan(day, now, toEnrich.size, requested,
      changeTypes.toMap, fixes.toMap)
  }
}

object World {
  /** first run's clock; runs are a day apart */
  val T0: Instant = Instant.parse("2026-01-18T14:01:30Z")
  val SpacingSeconds: Long = 24L * 3600
  /** the TTL the benchmark runs with: 30 days, longer than any run
    * sequence, so a key enriched during the sequence stays cached */
  val CacheTtlHours: Double = 30 * 24.0
  val TtlSeconds: Long = (CacheTtlHours * 3600).toLong
  /** cap on pipeline runs in one process (the expiry schedule's length) */
  val MaxRuns: Int = 30

  def version(h: Long): String = {
    val x = h & Long.MaxValue
    s"${1 + x % 9}.${(x / 9) % 20}.${(x / 180) % 30}"
  }

  private val terminal = Set("fixed", "not_applicable", "will_not_fix")

  /** the pipeline's five-state FSM contract, over clean state names */
  def isValidTransition(from: String, to: String): Boolean =
    from == to ||
      (from == "unknown" && (to == "pending_upstream" || to == "fixed")) ||
      (from == "pending_upstream" && terminal(to))

  def applyTransition(from: String, to: String): String =
    if (from == to) to
    else if (terminal(from)) from
    else if (isValidTransition(from, to)) to
    else from
}
