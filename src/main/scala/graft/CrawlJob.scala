package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{FrontierEngine, SnapshotStore, SyntheticWeb}

/** spark-submit entrypoint for the crawl (north rule: "the whole job runs
  * via spark-submit on a multi-executor cluster at two cluster sizes").
  *
  *   spark-submit --class graft.CrawlJob <jar> \
  *     --store /data/crawl1 --seeds http://host0.example/p/0,http://host1.example/p/0 \
  *     --max-depth 3 --max-pages 100000 --host-budget 30 --salt-buckets 16
  *
  * The master/executor topology comes from spark-submit (no .master() here;
  * local runs fall back to local[*]). Every round commits deltas +
  * per-partition lineage to the SnapshotStore; re-running the same command
  * resumes from the last committed round. The resident seen index persists
  * beside it as a durable sidecar, so a resume reloads it with zero
  * shuffle. Fetching is the deterministic SyntheticWeb resolver (zero
  * egress) — on a real cluster the fetch closure is the only seam to swap
  * for an HTTP client.
  */
object CrawlJob {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val builder = SparkSession.builder().appName("graft-crawl")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // no explicit master: spark-submit supplies the cluster; fall back for
    // bare `sbt runMain` local runs
    val spark = (if (a.contains("local-cores"))
      builder.master(s"local[${a("local-cores")}]")
        .config("spark.sql.shuffle.partitions", a("local-cores"))
    else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val web = SyntheticWeb.Config(
      nHosts = a.getOrElse("n-hosts", "64").toInt,
      pagesPerHost = a.getOrElse("pages-per-host", "2000").toInt,
      megaFactor = a.getOrElse("mega-factor", "4").toInt)
    val cfg = FrontierEngine.Config(
      maxDepth = a.getOrElse("max-depth", "3").toInt,
      maxPages = a.getOrElse("max-pages", "10000").toInt,
      hostBudget = a.getOrElse("host-budget", "1000").toInt,
      sameHostOnly = a.getOrElse("same-host-only", "false").toBoolean,
      respectRobots = true,
      saltBuckets = a.getOrElse("salt-buckets", "8").toInt,
      web = web)
    val seeds = a.get("seeds").map(_.split(",").toSeq)
      .getOrElse((0 until 8).map(h => SyntheticWeb.pageUrl(h, 0)))
    val store = a.get("store").map(new SnapshotStore(_))
    val resumedRound = store.flatMap(_.currentRound).getOrElse(0)

    val t0 = System.nanoTime()
    val (fetched, seen) = FrontierEngine.crawl(spark, seeds, cfg, store)
    val nFetched = fetched.count()
    val nSeen = seen.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"fetched":$nFetched,"seen":$nSeen,"wall_sec":$secs%.1f,""" +
      f""""pages_per_sec":${(nFetched / secs).round},""" +
      s""""resumed_round":$resumedRound}""")
    spark.stop()
  }
}
