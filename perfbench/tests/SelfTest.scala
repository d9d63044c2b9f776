package graftbench

import org.apache.spark.sql.SparkSession

import graft.frontier.{CrawlConfig, CrawlEngine, Robots}
import graft.tables.SnapshotStore
import graft.urls.UrlOps

/** Checks of the benchmark's own logic: order statistics, metric names,
  * seed handling, and the Spark-free references against `CrawlEngine.run`
  * on a small input. Usage: `SelfTest <scratch dir>`; exits non-zero on the
  * first failed check. Run through `python3 perfbench/run.py --self-test`.
  */
object SelfTest {

  private var checks = 0

  private def check(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) throw new AssertionError(what)
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12

  def stats(): Unit = {
    check(close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0), "odd median")
    check(close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5), "even median")
    check(close(Stats.median(Seq(7.0)), 7.0), "single median")
    val xs = (1 to 100).map(_.toDouble)
    check(close(Stats.percentile(xs, 80), 80.0), "p80 of 1..100")
    check(close(Stats.percentile(xs, 50), 50.0), "p50 of 1..100")
    check(close(Stats.percentile(xs, 100), 100.0), "p100 is the max")
    check(close(Stats.percentile(Seq(5.0, 1.0), 1), 1.0), "p1 is the min")
    check(Stats.beyond(55, 80) == 11, "11 of 55 samples lie beyond p80")
    check(Stats.beyond(100, 90) == 10, "10 of 100 samples lie beyond p90")
    // the highest percentile with at least ten samples beyond it
    check(Stats.tailPercentile(55).contains(80.0), "n=55 supports p80, not p90")
    check(Stats.tailPercentile(100).contains(90.0), "n=100 supports p90")
    check(Stats.tailPercentile(1000).contains(99.0), "n=1000 supports p99")
    check(Stats.tailPercentile(19).isEmpty, "n=19 supports no percentile")
    check(Stats.tailPercentile(20).contains(50.0), "n=20 supports only the median")
    val s = Stats.summary(xs.take(55))
    check(s("n") == 55 && s("tail_pct") == 80.0 && s("tail_beyond") == 11, s"summary $s")
    check(Stats.json(Map("a" -> Seq(1, 2.5), "b" -> "q\"\n", "c" -> Double.NaN)) ==
      """{"a":[1.0,2.5],"b":"q\"\n","c":null}""", "json")
  }

  def names(): Unit = {
    Seq("urls_per_s", "dom.parse_us", "spark.kernel_share", "a-b.c_d", "9lives",
      "x" * 64).foreach(n => check(Stats.validName(n), s"'$n' should be a valid name"))
    Seq("", "_x", ".x", "-x", "a b", "a/b", "µs", "x" * 65, "a,b")
      .foreach(n => check(!Stats.validName(n), s"'$n' should be rejected"))
  }

  def seeds(): Unit = {
    val a = WebSpec(7L, 300, 8, 1)
    check(a.digest() == WebSpec(7L, 300, 8, 1).digest(), "same seed, same input digest")
    val b = WebSpec(8L, 300, 8, 1)
    check(a.digest() != b.digest(), "different seeds, different inputs")
    check(a.cuts.sameElements(b.cuts) && a.hostIds.distinct.length == 8,
      "different seeds, same shape")
    check(a.hostIds.forall(_ >= 10000), "host ids stay off the cross-link range")
  }

  def crawls(scratch: java.nio.file.Path): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    import spark.implicits._
    try {
      val spec = WebSpec(3L, 120, 4, 1)
      val pages = spec.pagesTable(spark, 4).cache()
      val ref = Reference.analyseAll(spec.nPages, 2, withLinks = true)(i =>
        (spec.url(i.toLong), spec.html(i.toLong)))
      val rules = (0 until spec.nHosts).map(s => spec.host(s) ->
        Robots.rule(spec.host(s), new String(spec.robotsBody(s), "UTF-8"))).toMap

      // discovery: the BFS reference against the engine, with a host budget,
      // robots and a crawl-delay longer than the logical round
      val cfg = CrawlConfig(numBuckets = 4, hostBudgetPerRound = 4, roundSize = 1000,
        maxRounds = 10, roundTimeMs = 80L, foldMinKeys = 16L)
      val bfs = Reference.bfs(spec.seedUrls(3), ref, rules, cfg.hostBudgetPerRound,
        cfg.roundSize, cfg.maxRounds, cfg.roundTimeMs)
      val dir = scratch.resolve("discover").toString
      val stats = CrawlEngine.run(spark, pages, spark.createDataset(spec.seedUrls(3)), cfg, dir)
      val m = SnapshotStore.latestManifest(dir).get
      val seen = CrawlEngine.readSeenDirs(spark, SnapshotStore.dirsOf(m, "seen"))
        .select("url_hash").as[Long].collect().toSet
      check(seen == bfs.seen.map(UrlOps.fnv1a64),
        s"engine seen ${seen.size} vs reference BFS ${bfs.seen.size}")
      check(stats.fetched == bfs.fetched, s"fetched ${stats.fetched} vs ${bfs.fetched}")
      check(bfs.drainsPerRound.length < bfs.rounds,
        "the crawl-delay gate must leave idle rounds in the reference")
      check(bfs.seen.exists(_.contains("/author/")) && !bfs.seen.exists(_.contains("/private/area1")),
        "the reference follows links and honours robots")

      // a drain of every page: fetched = pages, rows = Detector's rows
      val drainCfg = CrawlConfig(numBuckets = 4, hostBudgetPerRound = spec.hostMax,
        roundSize = spec.nPages, maxRounds = 1)
      val d = CrawlEngine.run(spark, pages, spec.allUrls(spark, 4), drainCfg,
        scratch.resolve("drain").toString)
      check(d.fetched == spec.nPages, s"drain fetched ${d.fetched}")
      check(d.extractedRows == ref.values.map(_.nRows.toLong).sum,
        s"drain rows ${d.extractedRows} vs reference")
      pages.unpersist()
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        stats(); names(); seeds()
        crawls(java.nio.file.Paths.get(args(0)))
        println(s"perfbench self-test: $checks checks passed")
        0
      } catch { case t: Throwable =>
        println(s"perfbench self-test FAILED after $checks checks: ${t.getMessage}")
        t.printStackTrace()
        1
      }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }
}
