package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.detect.{Detector, PageGraph, Pagination, PlainList}
import graft.dom.HtmlParser
import graft.frontier.{CrawlConfig, CrawlEngine, CuckooFilter, FilterState, SeenEntry}
import graft.tables.SnapshotStore
import graft.urls.UrlOps

/** Per-layer measurements for the traced run. Each call goes through the
  * layer's public entry point, on the workload's own pages and state.
  */
object Layers {

  private def secs(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def medianOf(reps: Int)(f: => Double): Double = Stats.median((1 to reps).map(_ => f))

  /** The fused detect map's phases, Spark-free, over a page sample. */
  def kernel(sample: IndexedSeq[(String, Array[Byte])], threads: Int,
      reps: Int): Map[String, Double] = {
    val n = sample.length
    def fullKernel(u: String, h: Array[Byte]): Int = {
      val doc = HtmlParser.parseBytes(h)
      val det = Detector.detectDoc(u, doc)
      val links = Detector.extractLinks(u, doc)
      links.foreach(UrlOps.canonicalParts)
      det.lists.size + links.size
    }
    // per-phase time, µs per page
    def phases(): Array[Double] = {
      val acc = new Array[Long](5)
      sample.foreach { case (u, h) =>
        val t0 = System.nanoTime()
        val doc = HtmlParser.parseBytes(h)
        val t1 = System.nanoTime()
        val g = PageGraph(doc)
        val t2 = System.nanoTime()
        g.foreach(PlainList.run(doc, _, u))
        val t3 = System.nanoTime()
        g.foreach(Pagination.run(doc, _, u))
        val t4 = System.nanoTime()
        Detector.extractLinks(u, doc).foreach(UrlOps.canonicalParts)
        val t5 = System.nanoTime()
        acc(0) += t1 - t0; acc(1) += t2 - t1; acc(2) += t3 - t2
        acc(3) += t4 - t3; acc(4) += t5 - t4
      }
      acc.map(_ / 1e3 / n)
    }
    val runs = (1 to reps).map(_ => phases())
    val ph = (0 until 5).map(i => Stats.median(runs.map(_(i))))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val a0 = mx.getCurrentThreadAllocatedBytes
    sample.foreach { case (u, h) => fullKernel(u, h) }
    val allocKb = (mx.getCurrentThreadAllocatedBytes - a0) / 1024.0 / n
    val p1 = medianOf(reps)(n / secs(sample.foreach { case (u, h) => fullKernel(u, h) }))
    val pn = medianOf(reps)(n.toDouble * threads /
      secs(Par.forRange(n * threads, threads) { i =>
        val (u, h) = sample(i % n); fullKernel(u, h)
      }))
    Map("dom.parse_us" -> ph(0), "detect.graph_us" -> ph(1),
      "detect.plainlist_us" -> ph(2), "detect.pagination_us" -> ph(3),
      "urls.links_us" -> ph(4), "detect.alloc_kb" -> allocKb,
      "kernel.pages_per_s_1t" -> p1, "kernel.pages_per_s_nt" -> pn)
  }

  /** Cuckoo add / probe cost and the measured false-positive rate over
    * absent keys. Keys are url hashes of the workload's own pages, each
    * url extended with a counter to reach `nKeys`.
    */
  def cuckoo(urls: IndexedSeq[String], nKeys: Int, reps: Int): (Map[String, Double], Map[String, Long]) = {
    val keys = Array.tabulate(nKeys)(i => UrlOps.fnv1a64(s"${urls(i % urls.length)}#${i / urls.length}"))
    val absent = Array.tabulate(nKeys * 4)(i =>
      UrlOps.fnv1a64(s"${urls(i % urls.length)}?absent=${i / urls.length}"))
    var f: CuckooFilter = null
    val addNs = medianOf(reps) {
      f = CuckooFilter.create(nKeys.toLong)
      secs(keys.foreach(f.add)) * 1e9 / nKeys
    }
    var hits = 0L
    val probeNs = medianOf(reps) {
      hits = 0L
      secs(keys.foreach(k => if (f.contains(k)) hits += 1)) * 1e9 / nKeys
    }
    require(hits == nKeys, s"cuckoo filter lost ${nKeys - hits} of $nKeys keys")
    val fp = absent.count(f.contains).toLong
    (Map("frontier.cuckoo_add_ns" -> addNs, "frontier.cuckoo_probe_ns" -> probeNs,
      "frontier.cuckoo_fp_rate" -> fp.toDouble / absent.length),
      Map("cuckoo_false_positives" -> fp, "cuckoo_absent_probes" -> absent.length.toLong,
        "cuckoo_keys" -> nKeys.toLong))
  }

  /** Isolated frontier calls and one snapshot commit on the bootstrapped
    * state in `bootDir`, `reps` times each, median seconds.
    */
  def frontier(spark: SparkSession, bootDir: String, pages: DataFrame,
      cfg: CrawlConfig, scratch: Path, reps: Int): Map[String, Double] = {
    import spark.implicits._
    val m0 = SnapshotStore.latestManifest(bootDir).get
    val front = CrawlEngine.readFrontier(spark, m0).persist()
    front.count()
    val politeness = medianOf(reps)(secs(
      CrawlEngine.topKPerHost(front, cfg.hostBudgetPerRound).count()))
    val drainKeys = front.orderBy("depth", "url").limit(cfg.roundSize)
      .select("url", "depth").persist()
    drainKeys.count()
    val fetchJoin = medianOf(reps)(secs(
      CrawlEngine.fetchJoin(drainKeys, pages, broadcastKeys = true).count()))
    val robotsSrc = pages.select(col("url"), col("html"))
      .filter(col("url").endsWith("/robots.txt"))
    val hosts = front.select("host").distinct()
    val robots = medianOf(reps)(secs {
      val r = CrawlEngine.fetchRobots(spark, hosts, robotsSrc, cfg.userAgent)
      CrawlEngine.applyRobots(front, r).count()
    })
    val filters = SnapshotStore.read(spark, m0, "filters").as[FilterState]
    val seenAll = CrawlEngine.readSeenDirs(spark, SnapshotStore.dirsOf(m0, "seen"))
    val nb = cfg.numBuckets
    // a round's worth of keys the seen set does not hold yet
    val pending = front.limit(cfg.roundSize).map { e =>
      val h = UrlOps.fnv1a64(e.url + "#next")
      SeenEntry((((h % nb) + nb) % nb).toInt, h)
    }.persist()
    pending.count()
    val fold = medianOf(reps)(secs {
      val (out, _) = CrawlEngine.foldFilters(spark, filters, pending, seenAll,
        cfg.filterCapacityPerBucket)
      out.count()
      out.unpersist()
    })
    var k = 0
    val commit = medianOf(reps)(secs {
      k += 1
      SnapshotStore.commit(scratch.resolve(s"commit$k").toString, 1, Map.empty,
        Map("round" -> 0L),
        deltas = Map(
          "frontier_adds" -> (front.limit(cfg.roundSize).toDF(), Seq.empty),
          "seen" -> (pending.toDF(), Seq.empty)),
        partitionCols = Map("seen" -> Seq("bucket")))
    })
    Seq(front, drainKeys, pending).foreach(_.unpersist())
    Map("frontier.politeness_s" -> politeness, "frontier.fetch_join_s" -> fetchJoin,
      "frontier.robots_s" -> robots, "frontier.fold_s" -> fold,
      "tables.commit_s" -> commit)
  }

  /** Counts read back from the committed manifests of one finished crawl. */
  def manifests(stateDir: String): Map[String, Double] = {
    val last = SnapshotStore.latestVersion(stateDir).get
    val ms = (0 to last).map(v => SnapshotStore.readManifest(stateDir, v))
    val later = ms.drop(1)
    val folds = later.count(m =>
      Files.isDirectory(Paths.get(SnapshotStore.deltaDirFor(stateDir, m.version, "filters"))))
    val compactions = later.count(m => SnapshotStore.dirsOf(m, "frontier_adds") ==
      Seq(SnapshotStore.deltaDirFor(stateDir, m.version, "frontier_adds")))
    val (m0, mn) = (ms.head, ms.last)
    val seen = mn.counters("seen")
    val drained = seen - mn.counters("frontier_size")
    Map("frontier.folds" -> folds.toDouble, "frontier.compactions" -> compactions.toDouble,
      "frontier.new_urls" -> (seen - m0.counters("seen")).toDouble,
      "frontier.filter_blob_kb" -> mn.counters("filter_blob_bytes") / 1024.0,
      "frontier.fetch_hit_ratio" -> mn.counters("fetched").toDouble / math.max(drained, 1L))
  }

  /** Size and file count of a directory tree. */
  def dirSize(root: Path): (Long, Long) = {
    val s = Files.walk(root)
    try {
      var bytes = 0L; var files = 0L
      s.filter(Files.isRegularFile(_)).forEach { p => bytes += Files.size(p); files += 1 }
      (bytes, files)
    } finally s.close()
  }
}
