package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.frontier.{Robots, RobotsRule}
import graft.tables.SyntheticWeb

/** A seeded slice of SyntheticWeb's closed-form page space.
  *
  * `nHosts` host slots are laid out host-major exactly like
  * `SyntheticWeb.fastCuts` (slot 0 holds 30% of the pages, the rest share
  * the remainder evenly). `SyntheticWeb.Seed` is a constant, so the run seed
  * picks the host id behind each slot: page content (item counts, authors,
  * tags, sidebar targets) is a function of (host id, ordinal), so different
  * seeds give different pages with the same shape, and the same seed gives
  * the same bytes. Each slot serves a robots.txt: `/private` disallowed
  * everywhere, slot 1 also disallows `/tag`, slot 2 allow-excepts
  * `/private/area0`, and the crawl-delay is 100, 150 or 200 ms by slot.
  */
final case class WebSpec(seed: Long, nPages: Int, nHosts: Int, weight: Int) {
  require(nHosts >= 3 && nPages >= nHosts, "need at least 3 hosts and one page per host")

  val cuts: Array[Long] = SyntheticWeb.fastCuts(nPages.toLong, nHosts)

  /** Distinct host ids, drawn from the seed. Ids below 10^4 are never drawn,
    * so a page's cross-host link (to `host<x>.example` with x < nHosts)
    * always leads off the generated web: a new host with no robots.txt and
    * no pages.
    */
  val hostIds: Array[Int] = {
    val rnd = new java.util.SplittableRandom(seed)
    val ids = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (ids.size < nHosts) ids += 10000 + rnd.nextInt(990000)
    ids.toArray
  }

  def slotOf(i: Long): Int = {
    var s = java.util.Arrays.binarySearch(cuts, i)
    if (s < 0) s = -s - 2
    math.min(s, nHosts - 1)
  }

  def onHost(slot: Int): Long = cuts(slot + 1) - cuts(slot)

  def host(slot: Int): String = SyntheticWeb.hostName(hostIds(slot))

  def url(i: Long): String = {
    val s = slotOf(i)
    SyntheticWeb.pageUrl(hostIds(s), i - cuts(s))
  }

  def html(i: Long): Array[Byte] = {
    val s = slotOf(i)
    SyntheticWeb.pageHtml(hostIds(s), i - cuts(s), onHost(s), nHosts, weight)
      .getBytes(UTF_8)
  }

  /** Page 0 of the first `n` slots. */
  def seedUrls(n: Int): Seq[String] =
    (0 until n).map(s => SyntheticWeb.pageUrl(hostIds(s), 0))

  def robotsRule(slot: Int): RobotsRule = RobotsRule(host(slot),
    if (slot == 2) Seq("/private/area0") else Seq.empty,
    if (slot == 1) Seq("/private", "/tag") else Seq("/private"),
    100L + (slot % 3) * 50L)

  def robotsUrl(slot: Int): String = s"https://${host(slot)}/robots.txt"

  def robotsBody(slot: Int): Array[Byte] = Robots.serialize(robotsRule(slot)).getBytes(UTF_8)

  /** The largest slot's page count (slot 0). */
  def hostMax: Int = (0 until nHosts).map(onHost).max.toInt

  /** SHA-256 over every (url, body) row the engine will see, in order. */
  def digest(): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def row(u: String, b: Array[Byte]): Unit = {
      md.update(u.getBytes(UTF_8)); md.update(0.toByte); md.update(b); md.update(0.toByte)
    }
    var i = 0L
    while (i < nPages) { row(url(i), html(i)); i += 1 }
    (0 until nHosts).foreach(s => row(robotsUrl(s), robotsBody(s)))
    md.digest().take(16).map(b => f"${b & 0xff}%02x").mkString
  }

  /** The pages table the engine crawls: `(url, html)`, page rows plus one
    * robots.txt row per host, generated inside the executors and range-laid-out
    * by url (the caller caches it). Rows are produced from the same pure functions as
    * [[url]] and [[html]], so the Spark-free reference sees the same bytes.
    */
  def pagesTable(spark: SparkSession, nPartitions: Int): DataFrame = {
    import spark.implicits._
    val spec = this
    val pages = spark.range(0, nPages.toLong, 1, nPartitions)
      .map(i => (spec.url(i), spec.html(i)))
    val robots = spark.range(0, nHosts.toLong, 1, 1)
      .map(s => (spec.robotsUrl(s.toInt), spec.robotsBody(s.toInt)))
    pages.union(robots).toDF("url", "html")
      .repartitionByRange(nPartitions, col("url"))
      .sortWithinPartitions("url")
  }

  /** Every page url as a seed Dataset, derived executor-side. */
  def allUrls(spark: SparkSession, nPartitions: Int): Dataset[String] = {
    import spark.implicits._
    val spec = this
    spark.range(0, nPages.toLong, 1, nPartitions).map(i => spec.url(i))
  }
}
