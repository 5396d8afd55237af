package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.serve.Serving

/** `api_lookup`: a read-only API tier. Set-up is what a deployment does
  * before it serves: one full refresh pass (parse, log, pipeline, every
  * mart, export), traced in a traced run so the ingest, derive and export
  * layers are measured here too, then the marts the endpoints read are
  * cached. Two client threads run a closed loop with no think time over a
  * seeded mix of the Serving endpoints; every answer is kept and checked
  * against the generator's planted affected pairs after the loop. */
final class ApiLookup(run: Run) extends Workload {
  private val spark = run.spark
  import spark.implicits._
  private val smoke = run.args.smoke
  private val clients = 2
  private val (nAdv, nPkg, nVer) = if (smoke) (150, 40, 14) else (800, 250, 24)
  private lazy val path = new AdvisoryPath(run,
    AdvisoryGen.generate(run.args.seed, nAdv, nPkg, nVer), "api")
  private def feed = path.feed
  private var marts: graft.Engine.Marts = _
  private var advisories, unfurled, packages: DataFrame = _
  private var cachedMb = 0.0

  /** One request: endpoint, parameters, and the answer's key fields. */
  final case class Call(endpoint: String, param: String,
      pairs: Seq[(String, String)], answer: Seq[String], latencyNs: Long,
      error: Option[String])

  private val endpoints = Seq("bulk_lookup", "advisories_for_purls",
    "search_advisories", "search_packages", "page_after")
  /** Request mix: uniform over the endpoints, as a deck shuffled per deal
    * so every run sees the same proportions whatever its seed. No measured
    * traffic backs any mix; uniform is the assumption that favours no
    * endpoint. Bulk sizes are likewise assumed: uniform over 1..100. */
  private val mixDeck = endpoints
  private val bulkSizes = (0 until 10).map(i => 1 + i * 11)

  /** Deals a shuffled copy of `cards`, reshuffling when it runs out. */
  private final class Deck[T](cards: Seq[T], r: java.util.Random) {
    private var left: List[T] = Nil
    def next(): T = {
      if (left.isEmpty) left = new scala.util.Random(r.nextLong())
        .shuffle(cards).toList
      val h = left.head; left = left.tail; h
    }
  }

  /** One client's seeded request stream. */
  private final class Requests(seed: Long) {
    val r = new java.util.Random(seed)
    val endpoint = new Deck(mixDeck, r)
    val size = new Deck(bulkSizes, r)
    val tier = new Deck(0 until 4, r)
  }

  private lazy val packageUrls: IndexedSeq[String] =
    feed.versionRows.map { case (b, v) => s"$b@$v" }.sorted.toIndexedSeq

  private def pairs(r: java.util.Random, n: Int): Seq[(String, String)] =
    Seq.fill(n) {
      val p = feed.zipf.sample(r)
      (feed.basePurls(p), feed.versions(p)(r.nextInt(nVer)))
    }.distinct

  /** Search terms spread over the four cascade tiers: exact id, exact
    * alias, id substring, summary keyword. */
  private def searchTerm(r: java.util.Random, tier: Int): String = {
    val a = feed.advisories(r.nextInt(feed.advisories.size))
    tier match {
      case 0 => a.id
      case 1 => a.aliases.head
      case 2 => a.id.toLowerCase.drop(2).dropRight(1)
      case _ => a.summary.split(' ').find(_.startsWith("kw")).get
    }
  }

  private def call(q: Requests): Call = {
    val r = q.r
    val e = q.endpoint.next()
    val (param, ps) = e match {
      case "bulk_lookup" | "advisories_for_purls" =>
        ("", pairs(r, q.size.next()))
      case "search_advisories" => (searchTerm(r, q.tier.next()), Nil)
      case "search_packages" => (feed.basePurls(feed.zipf.sample(r)), Nil)
      case _ => (packageUrls(r.nextInt(packageUrls.size)), Nil)
    }
    val t0 = System.nanoTime
    try {
      val answer = run.tracer.span("serve", e) {
        e match {
          case "bulk_lookup" =>
            Serving.bulkLookup(unfurled, ps.toDF("base_purl", "version"))
              .collect().map(row => s"${row.getAs[String]("base_purl")}@" +
                s"${row.getAs[String]("version")}=${row.getAs[Boolean]("is_vulnerable")}")
              .toSeq
          case "advisories_for_purls" =>
            Serving.advisoriesForPurls(advisories, unfurled,
              ps.toDF("base_purl", "version"))
              .collect().map(_.getAs[String]("avid")).toSeq
          case "search_advisories" =>
            Serving.searchAdvisories(advisories, param)
              .collect().map(_.getAs[String]("avid")).toSeq
          case "search_packages" =>
            Serving.searchPackages(packages, param)
              .collect().map(_.getAs[String]("package_url")).toSeq
          case _ =>
            Serving.pageAfter(packages, "package_url", Some(param), 50)
              .collect().map(_.getAs[String]("package_url")).toSeq
        }
      }
      Call(e, param, ps, answer, System.nanoTime - t0, None)
    } catch {
      case ex: Exception =>
        Call(e, param, ps, Nil, System.nanoTime - t0, Some(ex.toString))
    }
  }

  def setup(): Unit = {
    path.writeInputs()
    marts = path.pass()
    advisories = marts.advisories
    unfurled = marts.unfurled
    packages = marts.packages.cache()
    Seq(advisories, unfurled, packages).foreach(_.count())
    cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    // warm every endpoint on its own request stream, never traced
    val traced = run.tracer.enabled
    run.tracer.enabled = false
    val q = new Requests(run.args.seed ^ 0x5eedL)
    (0 until (if (smoke) 10 else 12)).foreach(_ => call(q))
    run.tracer.enabled = traced
  }

  private var calls: Seq[Call] = Nil

  def timed(seconds: Double): Timed = {
    val done = new ConcurrentLinkedQueue[Call]()
    val deadline = System.nanoTime + (seconds * 1e9).toLong
    val perClient = if (smoke) 15 else Int.MaxValue
    val (_, wall) = run.region {
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => {
          val q = new Requests(run.args.seed * 31L + c)
          var n = 0
          while (n < perClient && (smoke || System.nanoTime < deadline)) {
            done.add(call(q)); n += 1
          }
        }, s"api-client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
    }
    calls = done.asScala.toSeq
    val (heap, storage) = run.held()
    val bad = calls.count(_.error.isDefined).toLong
    Timed(calls.map(_.latencyNs), calls.size.toLong, wall, calls.size.toLong,
      bad, heap, storage)
  }

  /** The cascade of Serving.searchAdvisories over the planted latest
    * advisories: best tier wins, ordered by advisory id. */
  private def expectSearch(q: String): Seq[String] = {
    val lq = q.toLowerCase
    val tiers = feed.advisories.map { a =>
      val t = if (a.id == q) 1 else if (a.aliases.contains(q)) 2
        else if (a.id.toLowerCase.contains(lq) ||
          a.aliases.exists(_.toLowerCase.contains(lq))) 3
        else if (a.summary.toLowerCase.contains(lq)) 4 else 9
      (t, a)
    }.filter(_._1 < 9)
    if (tiers.isEmpty) Nil
    else {
      val best = tiers.map(_._1).min
      tiers.filter(_._1 == best).map(_._2).sortBy(_.id).map(_.avid)
    }
  }

  private def expected(c: Call): Seq[String] = c.endpoint match {
    case "bulk_lookup" => c.pairs.map { case (p, v) =>
      s"$p@$v=${feed.affectedPairs.contains((p, v))}" }.sorted
    case "advisories_for_purls" =>
      c.pairs.flatMap(feed.avidsByPair.getOrElse(_, Set.empty)).distinct.sorted
    case "search_advisories" => expectSearch(c.param)
    case "search_packages" => packageUrls.filter(_.startsWith(c.param + "@"))
    case _ => packageUrls.filter(_ > c.param).take(50)
  }

  private var martsChecked = false

  def verify(): Unit = {
    if (!martsChecked) {
      path.verify(marts)
      path.verifyExport()
      martsChecked = true
    }
    val answered = calls.filter(_.error.isEmpty)
    val wrong = answered.filter { c =>
      val got = c.endpoint match {
        case "bulk_lookup" | "advisories_for_purls" => c.answer.sorted
        case _ => c.answer
      }
      got != expected(c)
    }
    run.wrong(wrong.size.toLong)
    endpoints.foreach { e =>
      val mine = calls.filter(_.endpoint == e)
      val bad = wrong.filter(_.endpoint == e) ++ mine.filter(_.error.isDefined)
      run.check(s"serve: $e answers match the planted pairs",
        mine.nonEmpty && bad.isEmpty,
        s"${bad.size} of ${mine.size} wrong; first: " + bad.headOption.map(c =>
          s"${c.param} ${c.pairs.take(3)} got ${c.answer.take(5)} " +
            s"want ${expected(c).take(5)} ${c.error.getOrElse("")}").getOrElse(""))
    }
  }

  override def traceSetup: Boolean = true

  def layerMetrics(t: Timed): Unit = {
    val T = run.tracer
    path.layerMetrics(marts, 1)
    val n = math.max(1, calls.size).toDouble
    endpoints.foreach { e =>
      val lat = calls.filter(_.endpoint == e).map(_.latencyNs)
      run.lm(s"serve.$e.p50_ms", run.p50(lat) / 1e6, "ms")
      run.lm(s"serve.$e.p90_ms", run.p90(lat) / 1e6, "ms")
    }
    val cs = T.countersOf(endpoints.flatMap(T.spansOf("serve", _)))
    def sum(f: Counters => Long) = cs.map(f).sum.toDouble
    run.lm("serve.plan_ms", sum(c => c.analysisMs.sum + c.optimizationMs.sum +
      c.planningMs.sum) / n, "ms")
    run.lm("serve.jobs_per_req", sum(_.jobs.sum) / n, "count")
    run.lm("serve.tasks_per_req", sum(_.tasks.sum) / n, "count")
    run.lm("serve.codegen_per_req", run.regionCodegen._1 / n, "count")
  }

  def shape: Seq[(String, String)] = Seq(
    "loop" -> s"closed loop, $clients client threads, no think time",
    "clients" -> clients.toString,
    "advisories" -> nAdv.toString,
    "revisions" -> feed.docs.size.toString,
    "packages" -> nPkg.toString, "versions_per_package" -> nVer.toString,
    "requests" -> calls.size.toString,
    "cached_marts" -> "advisories, unfurled, packages",
    "cached_mb" -> f"$cachedMb%.2f",
    "mix" -> mixDeck.groupBy(identity).toSeq
      .map { case (e, n) => s"$e=${n.size * 100 / mixDeck.size}%" }.sorted
      .mkString(" "))
}
