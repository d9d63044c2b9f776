package graftbench

import scala.collection.mutable

import graft.detect.Detector
import graft.dom.HtmlParser
import graft.frontier.{Robots, RobotsRule}
import graft.urls.UrlOps

/** What the engine's fused detect map must derive from one page: the
  * extracted row count, the persisted text, and the raw outlinks.
  */
final case class PageRef(nRows: Int, text: String, links: Vector[String])

/** The crawl a plain-collections reference expects. */
final case class BfsResult(seen: Set[String], fetched: Long, rounds: Int,
    drainsPerRound: Vector[Int])

/** Spark-free references the benchmark checks the engine against. */
object Reference {

  /** `Detector.detectHtml` on the page bytes, reduced the way the crawl
    * persists it: rows summed over every detected list, text = the first
    * list's `Field_text_1` values joined by newlines.
    */
  def analyse(url: String, html: Array[Byte], withLinks: Boolean): PageRef = {
    val det = Detector.detectHtml(url, html)
    val text = det.lists.headOption
      .map(_.data.flatMap(_.values.get("Field_text_1")).mkString("\n")).getOrElse("")
    val links =
      if (withLinks) Detector.extractLinks(url, HtmlParser.parseBytes(html)) else Vector.empty
    PageRef(det.lists.map(_.data.size).sum, text, links)
  }

  /** Analyse pages `0 until n` on `threads` threads; `page(i)` gives (url, html). */
  def analyseAll(n: Int, threads: Int, withLinks: Boolean)(
      page: Int => (String, Array[Byte])): Map[String, PageRef] = {
    val out = new Array[(String, PageRef)](n)
    Par.forRange(n, threads) { i =>
      val (u, h) = page(i)
      out(i) = u -> analyse(u, h, withLinks)
    }
    out.toMap
  }

  def allows(rules: Map[String, RobotsRule], url: String): Boolean =
    rules.get(UrlOps.hostOf(url)) match {
      case None => true
      case Some(r) => Robots.allowed(
        UrlOps.pathQueryOfCanonical(UrlOps.canonicalize(url)),
        r.allow_prefixes, r.disallow_prefixes)
    }

  /** The engine's crawl policy over plain collections: BFS rounds drained
    * by (depth, url), at most `budget` urls per host per round and
    * `roundSize` per round; robots-gated, deduplicated when enqueued (a
    * url seen once is never enqueued again); a host whose Crawl-delay D
    * exceeds `roundTimeMs` is not drained again until ceil(D / roundTimeMs)
    * rounds later, and a round where every remaining host waits ticks the
    * clock without draining. `pages` maps a fetchable url to its raw
    * outlinks; a drained url absent from it is a fetch miss.
    */
  def bfs(seeds: Seq[String], pages: Map[String, PageRef],
      rules: Map[String, RobotsRule], budget: Int, roundSize: Int,
      maxRounds: Int, roundTimeMs: Long): BfsResult = {
    val frontier = mutable.SortedSet.empty[(Int, String)]
    val seen = mutable.Set.empty[String]
    val nextOk = mutable.Map.empty[String, Int]
    seeds.map(UrlOps.canonicalize).distinct.filter(allows(rules, _)).foreach { u =>
      frontier += ((0, u)); seen += u
    }
    val drains = Vector.newBuilder[Int]
    var fetched = 0L
    var round = 0
    var continue = true
    while (continue && frontier.nonEmpty && round < maxRounds) {
      val perHost = mutable.Map.empty[String, Int]
      val eligible = frontier.iterator.filter { case (_, u) =>
        val h = UrlOps.hostOf(u)
        if (nextOk.getOrElse(h, 0) > round) false
        else {
          val c = perHost.getOrElse(h, 0)
          if (c < budget) { perHost(h) = c + 1; true } else false
        }
      }.take(roundSize).toVector
      if (eligible.isEmpty) {
        if (nextOk.valuesIterator.exists(_ > round)) round += 1 else continue = false
      } else {
        drains += eligible.size
        frontier --= eligible
        val cands = mutable.Map.empty[String, Int] // canonical url -> min depth
        eligible.foreach { case (depth, u) =>
          pages.get(u).foreach { p =>
            fetched += 1
            p.links.foreach { l =>
              val c = UrlOps.canonicalize(l)
              if (allows(rules, c) && cands.get(c).forall(_ > depth + 1)) cands(c) = depth + 1
            }
          }
        }
        cands.foreach { case (c, d) =>
          if (seen.add(c)) frontier += ((d, c))
        }
        eligible.iterator.map(e => UrlOps.hostOf(e._2)).toSet.foreach { h: String =>
          rules.get(h).foreach { r =>
            if (r.crawl_delay_ms > roundTimeMs)
              nextOk(h) = round + math.ceil(r.crawl_delay_ms.toDouble / roundTimeMs).toInt
          }
        }
        round += 1
      }
    }
    BfsResult(seen.toSet, fetched, round, drains.result())
  }
}

/** Fixed-size thread fan-out over an index range (no Spark). */
object Par {
  def forRange(n: Int, threads: Int)(body: Int => Unit): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = (0 until math.max(1, threads)).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n && failure.get() == null) {
          try body(i) catch { case t: Throwable => failure.compareAndSet(null, t) }
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (failure.get() != null) throw failure.get()
  }
}
