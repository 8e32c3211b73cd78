package graft.perfbench

import graft.core.{GbCharset, GbHash, GbLinks, GbUrl, GbXml, Robots}
import graft.frontier.Corpus

/** `core.*.ns`: single-thread nanoseconds per call of the pure `core`
  * kernels, on a fixed in-memory sample of `Corpus.small` pages (the
  * first 64 hosts), called through their public functions. */
object Kernels {
  private val Hosts = 64
  private val Batches = 7
  private val BatchNanos = 60000000L
  private val WarmNanos = 500000000L

  /** Median over batches of ns per call; each batch loops the sample
    * until it has run for BatchNanos, after WarmNanos of untimed calls
    * so the JIT has compiled the kernel. */
  private def nsPerOp(n: Int)(body: Int => Long): Double = {
    var sink = 0L
    def batch(): Double = {
      var calls = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < BatchNanos) {
        var i = 0
        while (i < n) { sink ^= body(i); i += 1 }
        calls += n
        t = System.nanoTime()
      }
      (t - t0).toDouble / calls
    }
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < WarmNanos) batch()
    val r = Stats.median(Seq.fill(Batches)(batch()))
    if (sink == 42L) println("") // keep the results alive
    r
  }

  def measure(res: Result): Unit = {
    val spec = Corpus.small
    val slots = for (k <- 0 until Hosts; p <- 0 until spec.pagesPerHost) yield (k, p)
    val urls = slots.map { case (k, p) => Corpus.pageUrl(k, p, spec) }.toArray
    // non-canonical spellings of the same URLs: upper-case scheme/host,
    // dot segments, doubled slashes and fragments
    val raw = urls.zipWithIndex.map { case (u, i) =>
      val host = u.stripPrefix("http://").takeWhile(_ != '/')
      val path = u.stripPrefix(s"http://$host")
      i % 4 match {
        case 0 => s"HTTP://${host.toUpperCase}$path"
        case 1 => s"http://$host/a/..${path.replace("/", "//")}"
        case 2 => s"$u#frag$i"
        case _ => s"http://$host:80$path?b=2&&a=1"
      }
    }
    val html = slots.map { case (k, p) => Corpus.pageBytes(k, p, spec) }.toArray
    val parsed = html.map { b =>
      val work = GbCharset.toUtf8(b)
      GbXml.sanitizeUtf8(work)
      val norm = GbXml.normalizeAfterDecode(GbXml.htmlDecode(work, doSpecial = true))
      (norm, GbXml.parse(norm))
    }
    val base = urls.map(GbUrl.parse)
    val robots = slots.filter { case (k, _) => Corpus.robotsBody(k).isDefined }.map { case (k, p) =>
      (Corpus.robotsBody(k).get.getBytes("UTF-8"), GbUrl.parse(Corpus.pageUrl(k, p, spec)).path)
    }.toArray
    require(robots.nonEmpty, "robots sample is empty")

    res.metric("core.uh48.ns", nsPerOp(urls.length)(i => GbHash.uh48(urls(i))), "ns")
    res.metric("core.canonicalize.ns", nsPerOp(raw.length)(i => GbUrl.parse(raw(i)).url.length.toLong), "ns")
    res.metric("core.extract_text.ns", nsPerOp(html.length)(i => GbXml.extractTextBytes(html(i)).length.toLong), "ns")
    res.metric("core.links_harvest.ns", nsPerOp(parsed.length) { i =>
      GbLinks.harvest(parsed(i)._1, parsed(i)._2, base(i)).size.toLong
    }, "ns")
    res.metric("core.robots.ns", nsPerOp(robots.length) { i =>
      if (Robots.evaluate(robots(i)._2, robots(i)._1)._1) 1L else 0L
    }, "ns")
  }
}
