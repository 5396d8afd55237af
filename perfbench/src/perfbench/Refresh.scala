package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.export.FederatedExport
import graft.ingest.OsvIngest

/** Feed on disk plus the calls of one full re-import, shared by the
  * refresh workload (timed) and the API workload (its set-up). */
final class AdvisoryPath(run: Run, val feed: AdvisoryFeed, tag: String) {
  private val spark: SparkSession = run.spark
  import spark.implicits._
  private val T = run.tracer
  val feedDir: String = run.scratch(s"$tag/feed")
  val versionsDir: String = run.scratch(s"$tag/versions")
  val logDir: String = run.scratch(s"$tag/log")
  val exportDir: String = run.scratch(s"$tag/export/advisories")
  val indexDir: String = run.scratch(s"$tag/export/packages")

  /** Feed bytes and the versions dimension, written once in set-up. */
  def writeInputs(): Unit = {
    feed.docs.toDF("datasource_id", "json").coalesce(1)
      .write.mode("overwrite").parquet(feedDir)
    feed.versionRows.toDF("base_purl", "version").coalesce(1)
      .write.mode("overwrite").parquet(versionsDir)
  }

  var parsedRows = 0L

  /** parse → advisory log (parquet) → runAdvisoryPipeline. */
  def build(): Engine.Marts = {
    val parsed = T.span("ingest", "parse") {
      val p = OsvIngest.parse(spark, spark.read.parquet(feedDir)).toDF()
        .cache()
      parsedRows = p.count()
      p
    }
    T.span("ingest", "log_write") {
      parsed.write.mode("overwrite").parquet(logDir)
    }
    parsed.unpersist()
    T.span("derive", "build") {
      Engine.runAdvisoryPipeline(spark, spark.read.parquet(logDir),
        spark.read.parquet(versionsDir))
    }
  }

  /** Materialize every mart (noop sink: full execution, nothing kept). */
  def materialize(m: Engine.Marts): Unit = T.span("derive", "marts") {
    AdvisoryPath.marts(m).foreach { case (n, df) =>
      T.span("derive", s"mart.$n") {
        df.write.format("noop").mode("overwrite").save()
      }
    }
  }

  def export(m: Engine.Marts): Unit = {
    T.span("export", "serialize") {
      FederatedExport.write(FederatedExport.serialize(m.advisories), exportDir)
    }
    T.span("export", "package_index") {
      FederatedExport.write(FederatedExport.packageIndex(m.unfurled), indexDir)
    }
  }

  /** The frames runAdvisoryPipeline caches; released before the next
    * pass so passes do not pile up storage. */
  def release(m: Engine.Marts): Unit =
    Seq(m.advisories, m.unfurled, m.versionRanks).foreach(_.unpersist())

  def exportMb: Double = AdvisoryPath.duMb(run.scratch(s"$tag/export"))

  /** One full refresh: parse, log, pipeline, every mart, export. */
  def pass(): Engine.Marts = {
    val m = build()
    materialize(m)
    export(m)
    m
  }

  /** ingest / derive / export metrics from the spans of `passes` traced
    * passes, the last of which produced `m`. */
  def layerMetrics(m: Engine.Marts, passes: Int): Unit = {
    def secs(layer: String, name: String) =
      T.spansOf(layer, name).map(_.durNs).sum / 1e9 / math.max(1, passes)
    run.lm("ingest.parse_s", secs("ingest", "parse"), "s")
    run.lm("ingest.log_write_s", secs("ingest", "log_write"), "s")
    run.lm("ingest.docs_in", feed.docs.size.toDouble, "count")
    run.lm("ingest.rows_out", parsedRows.toDouble, "count")
    run.lm("ingest.parse_ok_ratio", parsedRows.toDouble / feed.docs.size,
      "ratio")
    run.lm("derive.build_s", secs("derive", "build"), "s")
    run.lm("derive.marts_s", secs("derive", "marts"), "s")
    AdvisoryPath.marts(m).foreach { case (n, _) =>
      run.lm(s"derive.mart_s.$n", secs("derive", s"mart.$n"), "s") }
    run.lm("derive.rows_out",
      AdvisoryPath.marts(m).map(_._2.count()).sum.toDouble, "count")
    run.lm("export.docs", m.advisories.filter(col("is_latest")).count()
      .toDouble, "count")
    run.lm("export.serialize_s", secs("export", "serialize"), "s")
    run.lm("export.package_index_s", secs("export", "package_index"), "s")
    run.lm("export.mb", exportMb, "MB")
  }

  /** Checks of one pass's outputs against the planted structure. */
  def verify(m: Engine.Marts): Unit = {
    val nDocs = feed.docs.size.toLong
    run.check("ingest: one advisory row per revision", parsedRows == nDocs,
      s"parsed $parsedRows of $nDocs documents")
    val latest = m.advisories.filter(col("is_latest"))
      .select("avid", "summary").as[(String, String)].collect()
    run.check("derive: latest-advisory count",
      latest.length == feed.advisories.size,
      s"${latest.length} latest rows, planted ${feed.advisories.size}")
    val wantSummary = feed.advisories.map(a => a.avid -> a.summary).toMap
    val badLatest = latest.filterNot { case (a, s) => wantSummary.get(a).contains(s) }
    run.check("derive: latest revision picked", badLatest.isEmpty,
      s"${badLatest.length} wrong, e.g. ${badLatest.take(3).mkString(";")}")
    val groups = m.advisorySets.select("avid", "group_id")
      .as[(String, Long)].collect().toMap
    val compOk = feed.components.forall(c => c.map(groups.get).distinct.size == 1 &&
      groups.contains(c.head)) &&
      feed.components.map(c => groups(c.head)).distinct.size == feed.components.size
    run.check("derive: alias components", compOk && groups.size == feed.advisories.size,
      s"${groups.values.toSet.size} groups over ${groups.size} advisories, " +
        s"planted ${feed.components.size} over ${feed.advisories.size}")
    val affected = m.unfurled.filter(col("is_affected"))
      .select("avid", "base_purl", "version").as[(String, String, String)]
      .collect().toSet
    val want = feed.affectedBy.toSeq
      .flatMap { case (a, ps) => ps.map { case (p, v) => (a, p, v) } }.toSet
    run.check("derive: affected (purl, version) pairs", affected == want,
      s"missing ${(want -- affected).take(3)}, extra ${(affected -- want).take(3)} " +
        s"(${(want -- affected).size}/${(affected -- want).size})")
    val ranks = m.versionRanks.select("base_purl", "version", "version_rank")
      .as[(String, String, Int)].collect()
    val badRank = ranks.filterNot { case (p, v, r) =>
      feed.versions(feed.purlIndex(p)).indexOf(v) + 1 == r }
    run.check("derive: version ranks follow the scheme order",
      badRank.isEmpty && ranks.length == feed.versionRows.size,
      s"${badRank.length} wrong, e.g. ${badRank.take(3).mkString(";")}")
  }

  def verifyExport(): Unit = {
    val docs = spark.read.text(exportDir).count()
    run.check("export: one document per latest advisory",
      docs > 0 && spark.read.text(exportDir)
        .filter(col("value").startsWith("advisory_id: ")).count() ==
        feed.advisories.size, s"$docs lines")
    val pkgDocs = spark.read.text(indexDir)
      .filter(col("value").startsWith("- purl: ")).count()
    val wantPkgs = feed.affectedPairs.size
    run.check("export: package index covers every affected version",
      pkgDocs >= wantPkgs, s"$pkgDocs package documents, $wantPkgs affected")
  }

  /** Order-independent digests of every mart and both export trees. */
  def digests(m: Engine.Marts): Seq[(String, String)] =
    AdvisoryPath.marts(m).map { case (n, df) => s"mart.$n" -> AdvisoryPath.digest(df) } ++
      Seq("export.advisories" -> AdvisoryPath.digest(spark.read.text(exportDir)),
        "export.packages" -> AdvisoryPath.digest(spark.read.text(indexDir)))
}

object AdvisoryPath {
  /** The 24 marts in the order Engine registers their views. */
  def marts(m: Engine.Marts): Seq[(String, DataFrame)] = Seq(
    "advisories" -> m.advisories, "impacts" -> m.impacts,
    "unfurled" -> m.unfurled, "packages" -> m.packages,
    "version_ranks" -> m.versionRanks, "nearest_fixes" -> m.nearestFixes,
    "advisory_risk" -> m.advisoryRisk, "package_risk" -> m.packageRisk,
    "advisory_sets" -> m.advisorySets, "todos" -> m.todos,
    "conflicts" -> m.conflicts, "changelog" -> m.changeLog,
    "ssvc_decisions" -> m.ssvcDecisions, "ssvc_relations" -> m.ssvcRelations,
    "commit_patches" -> m.commitPatches, "mitigations" -> m.mitigations,
    "mitigation_curation" -> m.mitigationCuration,
    "cvss31_severities" -> m.cvss31Severities,
    "package_counts" -> m.packageCounts,
    "vulnerabilities" -> m.vulnerabilities,
    "vulnerability_membership" -> m.vulnerabilityMembership,
    "v1_package_vuln_counts" -> m.v1PackageVulnCounts,
    "code_fixes" -> m.codeFixes, "package_changelog" -> m.packageChangeLog)

  def digest(df: DataFrame): String = {
    val lines = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString + s":${lines.length}"
  }

  def duMb(path: String): Double = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum / 1048576.0
      finally s.close()
    }
  }
}

/** `advisory_refresh`: full re-imports, one after another, of a seeded
  * OSV feed — parse, advisory log, pipeline, every mart, export. */
final class Refresh(run: Run) extends Workload {
  private val smoke = run.args.smoke
  private val (nAdv, nPkg, nVer) = if (smoke) (150, 40, 14) else (600, 200, 24)
  private lazy val path = new AdvisoryPath(run,
    AdvisoryGen.generate(run.args.seed, nAdv, nPkg, nVer), "refresh")
  private var last: Option[graft.Engine.Marts] = None
  private var passes = 0

  private def pass(p: AdvisoryPath): Unit = {
    last.foreach(p.release)
    last = Some(p.pass())
  }

  def setup(): Unit = {
    path.writeInputs()
    pass(path) // warm pass: JIT, codegen cache, file system
  }

  def timed(seconds: Double): Timed = {
    var ok, bad = 0L
    val ops = scala.collection.mutable.ArrayBuffer.empty[Long]
    val (_, wall) = run.region {
      val deadline = System.nanoTime + (seconds * 1e9).toLong
      while (ops.isEmpty || (!smoke && System.nanoTime < deadline)) {
        val t0 = System.nanoTime
        try { pass(path); ok += 1 } catch { case e: Exception =>
          bad += 1; run.check("refresh pass", ok = false, e.toString) }
        ops += System.nanoTime - t0
      }
    }
    passes = ops.size
    val (heap, storage) = run.held()
    Timed(ops.toSeq, ok * path.feed.docs.size, wall, ok + bad, bad, heap, storage)
  }

  def verify(): Unit = last.foreach { m =>
    path.verify(m)
    path.verifyExport()
  }

  def layerMetrics(t: Timed): Unit = last.foreach(path.layerMetrics(_, passes))

  def shape: Seq[(String, String)] = Seq(
    "loop" -> "closed loop, 1 client, back-to-back full refresh passes",
    "advisories" -> nAdv.toString,
    "revisions" -> path.feed.docs.size.toString,
    "packages" -> nPkg.toString, "versions_per_package" -> nVer.toString,
    "passes" -> passes.toString)

  override def digests: Seq[(String, String)] =
    last.map(path.digests).getOrElse(Nil)
}
