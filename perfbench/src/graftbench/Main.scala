package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.frontier.{CrawlConfig, CrawlEngine, CrawlStats, Robots, RobotsRule}
import graft.tables.SnapshotStore
import graft.urls.UrlOps

/** One workload: the seeded web it crawls, the crawl config, and which urls
  * the v0 bootstrap snapshot holds: every page (a drain) or page 0 of the
  * first `seedSlots` hosts (a discovery crawl).
  */
final case class Workload(name: String, spec: WebSpec, cfg: CrawlConfig,
    seedSlots: Option[Int]) {
  def discovers: Boolean = seedSlots.isDefined
}

/** The workloads, sized so that one run (set-up included) stays near a
  * minute on a 4-core machine: the engine pays several seconds of fixed
  * cost per round at these sizes.
  */
object Workloads {
  val Hosts = 16
  val Weight = 4

  def apply(name: String, seed: Long, cores: Int): Workload = name match {
    case "drain1" =>
      // one maximal round over a frontier holding every page
      val spec = WebSpec(seed, 1600, Hosts, Weight)
      Workload(name, spec, CrawlConfig(numBuckets = cores, hostBudgetPerRound = spec.hostMax,
        roundSize = spec.nPages, maxRounds = 1, lineageDetail = false), None)
    case "discover" =>
      // BFS from page 0 of every host: the host budget is below every
      // host's frontier share, the logical round (120 ms) is shorter than
      // two thirds of the hosts' crawl-delays (150 and 200 ms), a fold
      // follows the first round and a compaction the second
      Workload(name, WebSpec(seed, 400, Hosts, Weight), CrawlConfig(numBuckets = cores,
        hostBudgetPerRound = 16, maxRounds = 2, roundTimeMs = 120L, foldMinKeys = 64L,
        compactEveryRounds = 2, lineageDetail = false), Some(Hosts))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** One timed `CrawlEngine.run` call. */
final case class Pass(wall: Double, stats: CrawlStats, heapPeakMb: Double, stateDir: Path)

/** The benchmark process: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <dir> --commit <id>`. Prints one detail JSON line
  * (environment, checks, every measured figure) and then the result line
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
  */
object Main {

  /** A seed the tuning of this benchmark never used; later performance
    * claims are confirmed on it.
    */
  val HeldOutSeed = 90001L

  /** Set-up is repeated this many times per run; `setup_s` is the median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", sys.error("--seed is required")).toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", ".bench_build/work")).toAbsolutePath
    val out = Paths.get(opts.getOrElse("out", work.resolveSibling("out").toString)).toAbsolutePath
    val commit = opts.getOrElse("commit", "unknown")
    val code =
      try { new Main(workload, seed, seconds, trace, work, out, commit).run(); 0 }
      catch { case t: Throwable =>
        System.err.println(s"[perfbench] $workload failed: $t")
        t.printStackTrace()
        1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the exit is explicit
    Runtime.getRuntime.halt(code)
  }
}

final class Main(workloadName: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, outDir: Path, commit: String) {

  private val cores = Runtime.getRuntime.availableProcessors()
  private val wl = Workloads(workloadName, seed, cores)
  private val spec = wl.spec
  private val runId = s"$workloadName-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis()}"
  private val tracer = if (trace) Some(new Tracer(runId)) else None
  private val details = mutable.LinkedHashMap.empty[String, Any]
  private var dirCount = 0

  private def span[A](name: String, attrs: (String, String)*)(f: => A): A =
    tracer.fold(f)(_.span(name, attrs: _*)(f))

  private def newDir(prefix: String): Path = {
    dirCount += 1
    Files.createDirectories(work.resolve(s"$prefix-$dirCount"))
  }

  private def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  private def delete(p: Path): Unit = graft.util.TempDirs.deleteRecursively(p)

  private val heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  }

  def run(): Unit = {
    Files.createDirectories(work)
    // the Spark-free reference the checks need; it also compiles the detect
    // kernel before any crawl runs
    val ((ref, digest), refS) = secs(
      (Reference.analyseAll(spec.nPages, cores, withLinks = wl.discovers)(i =>
        (spec.url(i.toLong), spec.html(i.toLong))), spec.digest()))
    details("reference_s") = refS
    val (spark, sessionS) = secs(session())
    details("session_start_s") = sessionS
    try runIn(spark, ref, digest) finally spark.stop()
  }

  private def session(): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  private def runIn(spark: SparkSession, ref: Map[String, PageRef], digest: String): Unit = {
    val listener = new RuntimeListener(tracer)
    spark.sparkContext.addSparkListener(listener)
    val nParts = cores * 4

    // ---- set-up: inputs + cache + v0 bootstrap, repeated; median reported
    var pages: DataFrame = null
    var bootDir: Path = null
    val setupTimes = (1 to Main.SetupReps).map { rep =>
      if (pages != null) { pages.unpersist(true); delete(bootDir) }
      span("setup", "rep" -> rep.toString) {
        secs {
          pages = spec.pagesTable(spark, nParts).persist()
          pages.count()
          bootDir = newDir("boot")
          CrawlEngine.run(spark, pages, seeds(spark, nParts), wl.cfg.copy(maxRounds = 0),
            bootDir.toString)
        }._2
      }
    }
    details("setup_reps_s") = setupTimes

    val expectRows = ref.valuesIterator.map(_.nRows.toLong).sum
    val rules: Map[String, RobotsRule] = (0 until spec.nHosts).map { s =>
      spec.host(s) -> Robots.rule(spec.host(s),
        new String(spec.robotsBody(s), "UTF-8"), wl.cfg.userAgent)
    }.toMap
    val bfs = wl.seedSlots.map { n =>
      Reference.bfs(spec.seedUrls(n), ref, rules, wl.cfg.hostBudgetPerRound,
        wl.cfg.roundSize, wl.cfg.maxRounds, wl.cfg.roundTimeMs)
    }

    // drains must fetch every page; a discovery crawl what the reference
    // BFS fetched and saw. Every persisted output row must equal Detector's
    // text and row count for that url's bytes.
    val wantFetched = bfs.fold(spec.nPages.toLong)(_.fetched)
    def check(stats: CrawlStats, stateDir: Path): Seq[String] = {
      import spark.implicits._
      val fails = mutable.ArrayBuffer.empty[String]
      if (stats.fetched != wantFetched) fails += s"fetched ${stats.fetched} != $wantFetched"
      val got = outputs(spark, stateDir.toString)
      if (got.size != wantFetched) fails += s"${got.size} output rows != $wantFetched fetched"
      val bad = got.count { case (u, v) => !ref.get(u).exists(r => (r.text, r.nRows) == v) }
      if (bad > 0) fails += s"$bad urls whose extracted text or rows differ from Detector"
      val rows = got.valuesIterator.map(_._2.toLong).sum
      if (stats.extractedRows != rows)
        fails += s"extracted rows ${stats.extractedRows} != ${rows} persisted"
      if (bfs.isEmpty && rows != expectRows) fails += s"extracted rows $rows != reference $expectRows"
      bfs.foreach { b =>
        val m = SnapshotStore.latestManifest(stateDir.toString).get
        val seen = CrawlEngine.readSeenDirs(spark, SnapshotStore.dirsOf(m, "seen"))
          .select("url_hash").as[Long].collect().toSet
        if (seen != b.seen.map(UrlOps.fnv1a64))
          fails += s"seen set (${seen.size}) differs from the reference BFS (${b.seen.size})"
        if (stats.seenSize != b.seen.size) fails += s"seen size ${stats.seenSize} != ${b.seen.size}"
      }
      fails.toSeq
    }

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def pass(label: String): Option[Pass] = {
      attempted += 1
      val stateDir = newDir("state")
      copyTree(bootDir, stateDir)
      try span("pass", "kind" -> label) {
        // each pass starts from a collected heap, so its peak is its own
        System.gc()
        heapPools.foreach(_.resetPeakUsage())
        val (stats, wall) = secs(span("CrawlEngine.run") {
          CrawlEngine.run(spark, pages, seeds(spark, nParts), wl.cfg, stateDir.toString)
        })
        val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
        val fails = span("check")(check(stats, stateDir))
        if (fails.nonEmpty) { failed += 1; failures ++= fails.map(f => s"$label: $f") }
        Some(Pass(wall, stats, heapMb, stateDir))
      } catch { case t: Throwable =>
        failed += 1
        failures += s"$label: ${t.getClass.getSimpleName}: ${t.getMessage}"
        System.err.println(s"[perfbench] pass failed: $t")
        None
      }
    }
    def window(label: String, budget: Double): Seq[Pass] = {
      val out = mutable.ArrayBuffer.empty[Pass]
      var spent = 0.0
      var tries = 0
      while (tries == 0 || spent < budget) {
        tries += 1
        pass(label).foreach { p =>
          spent += p.wall
          out += p
          if (out.size > 1) delete(out(out.size - 2).stateDir) // keep only the last state
        }
        if (tries > 2 && out.isEmpty) return out.toSeq
      }
      out.toSeq
    }
    def e2e(ps: Seq[Pass]): Map[String, Double] = ListMap(
      "urls_per_s" -> Stats.median(ps.map(p => p.stats.fetched / p.wall)),
      "s_per_round" -> Stats.median(ps.map(p => p.wall / math.max(p.stats.rounds, 1))),
      "heap_peak_mb" -> Stats.median(ps.map(_.heapPeakMb)))

    val metrics: Map[String, Double] =
      if (!trace) {
        val ps = window("timed", seconds)
        require(ps.nonEmpty, "no timed pass succeeded")
        details("passes") = passRecords(ps)
        ListMap("setup_s" -> Stats.median(setupTimes)) ++ e2e(ps)
      } else {
        // one untimed crawl first, so that the untraced pass is not the
        // JVM's first crawl and the traced one the second
        val (_, warmS) = secs(span("warm") {
          val dir = newDir("warm")
          copyTree(bootDir, dir)
          CrawlEngine.run(spark, pages, seeds(spark, nParts), wl.cfg, dir.toString)
          delete(dir)
        })
        details("warm_s") = warmS
        val plain = window("untraced", seconds / 2)
        require(plain.nonEmpty, "no untraced pass succeeded")
        plain.foreach(p => delete(p.stateDir))
        listener.waitForEvents(spark.sparkContext)
        listener.on = true
        val t0 = System.currentTimeMillis()
        val traced = window("traced", seconds / 2)
        val t1 = System.currentTimeMillis()
        listener.waitForEvents(spark.sparkContext)
        listener.on = false
        require(traced.nonEmpty, "no traced pass succeeded")
        details("passes") = passRecords(plain ++ traced)
        val untracedUps = e2e(plain)("urls_per_s")
        val tracedUps = e2e(traced)("urls_per_s")
        val rounds = traced.map(_.stats.rounds).sum.max(1).toDouble
        val n = traced.size.toDouble
        val wall = traced.map(_.wall).sum
        val last = traced.last.stateDir
        val sample = (0 until math.min(128, spec.nPages)).map { k =>
          val i = (k.toLong * spec.nPages) / math.min(128, spec.nPages)
          (spec.url(i), spec.html(i))
        }
        val kernel = span("layer.kernel")(Layers.kernel(sample, cores, reps = 3))
        val (cuckoo, cuckooCounts) = span("layer.cuckoo")(
          Layers.cuckoo((0 until spec.nPages).map(i => spec.url(i.toLong)), 1 << 18, reps = 3))
        details("cuckoo_counts") = cuckooCounts
        val frontier = span("layer.frontier")(
          Layers.frontier(spark, bootDir.toString, pages, wl.cfg, newDir("layers"), reps = 3))
        val fromManifests = span("layer.manifests")(Layers.manifests(last.toString))
        val (stateBytes, stateFiles) = Layers.dirSize(last)
        val spanFile = outDir.resolve(s"spans-$runId.jsonl")
        details("span_file") = spanFile.toString
        val out = ListMap[String, Double]() ++ kernel ++
          ListMap("spark.kernel_share" -> tracedUps / kernel("kernel.pages_per_s_nt")) ++
          frontier.filter(_._1.startsWith("frontier.")) ++ cuckoo ++ fromManifests ++
          ListMap("tables.commit_s" -> frontier("tables.commit_s"),
            "tables.state_mb" -> stateBytes / 1048576.0,
            "tables.state_files" -> stateFiles.toDouble,
            "spark.jobs_per_round" -> listener.jobs / rounds,
            "spark.stages_per_round" -> listener.stages / rounds,
            "spark.tasks_per_round" -> listener.tasks / rounds,
            "spark.idle_s" -> listener.idleMs(t0, t1) / 1e3 / n,
            "spark.busy_frac" -> listener.taskMs / 1e3 / (wall * cores),
            "spark.task_s" -> listener.taskMs / 1e3 / n,
            "spark.gc_s" -> listener.gcMs / 1e3 / n,
            "spark.shuffle_mb" -> listener.shuffleBytes / 1048576.0 / n,
            "spark.spill_mb" -> listener.spillBytes / 1048576.0 / n,
            "spark.input_mb" -> listener.inputBytes / 1048576.0 / n,
            "spark.skew" -> listener.skew,
            "trace.overhead_frac" -> (untracedUps - tracedUps) / untracedUps)
        details("tracing") = ListMap("untraced_urls_per_s" -> untracedUps,
          "traced_urls_per_s" -> tracedUps, "spans" -> tracer.get.count,
          "spark_job_s" -> Stats.summary(tracer.get.durations("spark.job")))
        tracer.get.write(spanFile)
        out
      }

    val env = ListMap[String, Any](
      "nproc" -> cores,
      "mem_total_kb" -> memTotalKb(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "jvm_flags" -> {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      },
      "spark" -> spark.version,
      "spark_conf" -> ListMap(spark.conf.getAll.toSeq.sortBy(_._1)
        .filter(kv => kv._1.startsWith("spark.sql") || kv._1 == "spark.master"): _*),
      "commit" -> commit,
      "workload" -> workloadName,
      "seed" -> seed,
      "held_out_seed" -> Main.HeldOutSeed,
      "input" -> ListMap("pages" -> spec.nPages, "hosts" -> spec.nHosts,
        "weight" -> spec.weight, "digest" -> digest),
      "config" -> wl.cfg.toString,
      "scaling" -> ListMap("ratio" -> None, "reason" ->
        (if (cores < 16) s"nproc=$cores: fewer than 16 cores, so no 4-to-16-core scaling pair can be pinned"
         else "not measured: the benchmark runs one session on local[nproc]")))
    val correct = failed == 0
    details("env") = env
    details("checks") = ListMap("attempted" -> attempted, "failed" -> failed,
      "fail_ratio" -> failed.toDouble / attempted, "failures" -> failures.toSeq,
      "expected_rows" -> expectRows,
      "reference_bfs" -> bfs.map(b => ListMap("seen" -> b.seen.size, "fetched" -> b.fetched,
        "rounds" -> b.rounds)))
    details("metrics") = metrics
    metrics.keys.filterNot(Stats.validName).foreach(n => sys.error(s"invalid metric name '$n'"))
    val detailLine = Stats.json(ListMap("perfbench_detail" -> details))
    Files.createDirectories(outDir)
    Files.write(outDir.resolve(s"detail-$runId.json"), detailLine.getBytes("UTF-8"))
    println(detailLine)
    println(Stats.json(ListMap("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)))
  }

  private def seeds(spark: SparkSession, nParts: Int): Dataset[String] = {
    import spark.implicits._
    wl.seedSlots match {
      case Some(n) => spark.createDataset(spec.seedUrls(n))
      case None => spec.allUrls(spark, nParts)
    }
  }

  /** url -> (extracted_text, n_rows) over every committed round. */
  private def outputs(spark: SparkSession, stateDir: String): Map[String, (String, Int)] = {
    import spark.implicits._
    val last = SnapshotStore.latestVersion(stateDir).get
    (1 to last).map(v => SnapshotStore.readManifest(stateDir, v))
      .filter(_.dataDirs.contains("outputs"))
      .map(m => SnapshotStore.read(spark, m, "outputs")
        .select("url", "extracted_text", "n_rows").as[(String, String, Int)])
      .reduceOption(_.union(_))
      .map(_.collect().map(t => t._1 -> (t._2, t._3)).toMap)
      .getOrElse(Map.empty)
  }

  private def passRecords(ps: Seq[Pass]): Seq[Map[String, Any]] = ps.map(p =>
    ListMap("wall_s" -> p.wall, "rounds" -> p.stats.rounds, "fetched" -> p.stats.fetched,
      "extracted" -> p.stats.extractedRows, "seen" -> p.stats.seenSize,
      "heap_peak_mb" -> p.heapPeakMb))

  private def memTotalKb(): Long = {
    import scala.jdk.CollectionConverters._
    try Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }
  }
}
