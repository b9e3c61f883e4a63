package perfbench

import graft.enrichment.HttpTransport
import org.apache.spark.TaskContext

import java.util.concurrent.ConcurrentLinkedQueue

/** One NVD request as the transport saw it. */
final case class Request(cve: String, partition: Int, startNs: Long, endNs: Long)

/** In-process HTTP source: serves the generated feed document and the
  * stubbed NVD answers with no network and no socket. The enrichment
  * stage ships the transport to its tasks; in `local[n]` they run in
  * this JVM, so the feed body and the request log live in the
  * companion object instead of in the (serialized) instance. */
final class BenchTransport(seed: Long, day: Int) extends HttpTransport {
  def get(url: String, headers: Map[String, String]): (Int, String) =
    if (url.startsWith(BenchTransport.FeedUrl)) (200, BenchTransport.feedBody)
    else {
      val start = System.nanoTime()
      val at = url.indexOf("cveId=")
      require(url.startsWith(BenchTransport.NvdUrl) && at > 0, s"unexpected URL $url")
      val cve = url.substring(at + "cveId=".length)
      val body = Stub.body(cve, Stub.answer(seed, day, cve))
      val partition = Option(TaskContext.get()).fold(-1)(_.partitionId())
      BenchTransport.log.add(Request(cve, partition, start, System.nanoTime()))
      (200, body)
    }
}

object BenchTransport {
  val FeedUrl = "bench://feed"
  val NvdUrl = "bench://nvd/rest/json/cves/2.0"

  @volatile private[perfbench] var feedBody: String = ""
  private val log = new ConcurrentLinkedQueue[Request]()

  /** Requests logged since the last call, oldest first. */
  def drainLog(): Seq[Request] = {
    val out = Seq.newBuilder[Request]
    var r = log.poll()
    while (r != null) { out += r; r = log.poll() }
    out.result()
  }

  /** Time the enrichment stage spent between requests, on its slowest
    * partition: the rate limiter's pacing as the critical path sees it. */
  def waitSeconds(reqs: Seq[Request]): Double =
    if (reqs.isEmpty) 0.0
    else reqs.groupBy(_.partition).values.map { rs =>
      val sorted = rs.sortBy(_.startNs)
      val busy = sorted.map(r => r.endNs - r.startNs).sum
      (sorted.last.endNs - sorted.head.startNs - busy) / 1e9
    }.max
}
