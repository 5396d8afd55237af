package perfbench

import scala.collection.mutable

/** Seeded OSV feed generator with planted, checkable structure.
  *
  * Shape of one feed:
  *   - `packages` packages spread round-robin over npm / pypi / maven,
  *     each with `versionsPerPackage` dotted versions whose numeric order
  *     differs from their string order (1.9.x < 1.10.x), so the versions
  *     dimension needs the scheme-aware version kernels;
  *   - `advisories` advisories, each published as 1-3 revisions with
  *     increasing `modified` stamps. Older revisions claim an earlier fix,
  *     so only correct latest-flagging yields the planted affected set;
  *   - alias components of size 1, 2 (one shared CVE) and 3 (a chain
  *     A-CVE1-B-CVE2-C), so advisory sets need transitive closure;
  *   - affected packages drawn Zipf-skewed, so the unfurl join has hot keys.
  *
  * The shape's numbers (Zipf exponent 1.1, component sizes 60/30/10 %,
  * 1-3 revisions per advisory, 35 % two-package advisories) are assumptions:
  * no measured feed backs them. They make each planted structure common
  * enough to check.
  *
  * The generator keeps what it planted (latest ranges, components, the
  * affected (purl, version) pairs) so the benchmark can check the engine's
  * answers against it.
  */
final case class GenAdvisory(
    datasource: String,
    id: String,
    aliases: Seq[String],
    summary: String,
    /** (base purl, index of first affected version, index of the fixed
      * version or -1 when unfixed) of the LATEST revision. */
    impacts: Seq[(String, Int, Int)],
    revisions: Int) {
  def avid: String = s"$datasource/$id"
}

final class AdvisoryFeed(
    val docs: IndexedSeq[(String, String)],
    val advisories: IndexedSeq[GenAdvisory],
    val components: IndexedSeq[Seq[String]],
    val basePurls: IndexedSeq[String],
    val versions: IndexedSeq[IndexedSeq[String]],
    val zipf: Zipf) {

  val purlIndex: Map[String, Int] = basePurls.zipWithIndex.toMap

  /** (base purl, version) pairs affected by each latest advisory. */
  lazy val affectedBy: Map[String, Set[(String, String)]] =
    advisories.map(a => a.avid -> a.impacts.flatMap { case (p, lo, fix) =>
      val vs = versions(purlIndex(p))
      val hi = if (fix < 0) vs.length else fix
      (lo until hi).map(i => (p, vs(i)))
    }.toSet).toMap

  lazy val affectedPairs: Set[(String, String)] =
    affectedBy.valuesIterator.flatten.toSet

  lazy val avidsByPair: Map[(String, String), Set[String]] =
    affectedBy.toSeq.flatMap { case (a, ps) => ps.map(_ -> a) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap

  def versionRows: Seq[(String, String)] =
    basePurls.indices.flatMap(p => versions(p).map(v => (basePurls(p), v)))
}

/** Zipf(s) sampler over 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

object AdvisoryGen {
  private val ecosystems = Seq("npm", "PyPI", "Maven")
  private val vectors = Seq(
    "CVSS:3.1/AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:H",
    "CVSS:3.1/AV:N/AC:H/PR:L/UI:R/S:U/C:L/I:L/A:N",
    "CVSS:3.1/AV:L/AC:L/PR:L/UI:N/S:U/C:H/I:N/A:N",
    "CVSS:3.1/AV:N/AC:L/PR:N/UI:R/S:C/C:L/I:L/A:N")
  private val words = Seq("overflow", "injection", "traversal", "bypass",
    "deserialization", "race", "leak", "redirect", "forgery", "exhaustion")

  def version(i: Int, pkg: Int): String = s"${1 + i / 12}.${i % 12}.${pkg % 3}"

  def basePurl(p: Int): String = {
    val name = f"pkg-$p%05d"
    p % 3 match {
      case 0 => s"pkg:npm/$name"
      case 1 => s"pkg:pypi/$name"
      case _ => s"pkg:maven/org.bench/$name"
    }
  }

  private def osvName(p: Int): String = {
    val name = f"pkg-$p%05d"
    if (p % 3 == 2) s"org.bench:$name" else name
  }

  private def q(s: String): String = "\"" + s + "\""

  def generate(seed: Long, advisories: Int, packages: Int,
      versionsPerPackage: Int): AdvisoryFeed = {
    val r = new java.util.Random(seed * 7919L + 17L)
    val zipf = new Zipf(packages, 1.1)
    val purls = (0 until packages).map(basePurl)
    val versions = (0 until packages)
      .map(p => (0 until versionsPerPackage).map(version(_, p)))
    val hex = "0123456789abcdef"
    def hexStr(n: Int) = (0 until n).map(_ => hex(r.nextInt(16))).mkString

    // ids: unique across datasources; components planted by alias sharing
    val out = mutable.ArrayBuffer.empty[GenAdvisory]
    val comps = mutable.ArrayBuffer.empty[Seq[String]]
    val docs = mutable.ArrayBuffer.empty[(String, String)]
    var cve = 10000 + r.nextInt(1000)
    var i = 0
    while (i < advisories) {
      val size = math.min(advisories - i, {
        val x = r.nextDouble(); if (x < 0.6) 1 else if (x < 0.9) 2 else 3 })
      val c1 = s"CVE-2024-$cve"; cve += 1
      val c2 = s"CVE-2024-$cve"; cve += 1
      val aliasSets = size match {
        case 1 => Seq(Seq(c1))
        case 2 => Seq(Seq(c1), Seq(c1))
        case _ => Seq(Seq(c1), Seq(c1, c2), Seq(c2))
      }
      val members = aliasSets.zipWithIndex.map { case (aliases, k) =>
        val n = i + k
        val (ds, id) = n % 3 match {
          case 0 => ("ghsa", s"GHSA-${hexStr(4)}-${f"$n%04x"}-${hexStr(4)}")
          case 1 => ("pysec", s"PYSEC-2024-$n")
          case _ => ("osv", s"OSV-2024-$n")
        }
        val nPkgs = 1 + (if (r.nextDouble() < 0.35) 1 else 0)
        val pkgs = Iterator.continually(zipf.sample(r)).distinct.take(nPkgs)
          .toSeq
        val impacts = pkgs.map { p =>
          val lo = if (r.nextDouble() < 0.2) 0
            else r.nextInt(versionsPerPackage - 2)
          // `introduced: "0"` without a fix carries no constraint at all
          // and is dropped by the OSV parser, so an unfixed range always
          // has a lower bound
          val fix = if (lo > 0 && r.nextDouble() < 0.1) -1
            else lo + 1 + r.nextInt(math.min(8, versionsPerPackage - lo - 1))
          (purls(p), lo, fix, p)
        }
        val revisions = 1 + r.nextInt(3)
        val kw = f"kw${n % 997}%04d"
        val summary =
          s"${words(r.nextInt(words.size))} in ${osvName(pkgs.head)} $kw"
        val vector = vectors(r.nextInt(vectors.size))
        val cwe = 20 + r.nextInt(60)
        val commit = if (r.nextDouble() < 0.3)
          Some(s"https://github.com/bench/${f"pkg-${pkgs.head}%05d"}/commit/${hexStr(40)}")
          else None
        (0 until revisions).foreach { rev =>
          // older revisions claim an earlier fix: only the latest
          // revision's ranges may reach the marts
          val shift = revisions - 1 - rev
          val affected = impacts.map { case (_, lo, fix, p) =>
            val f = if (fix < 0) -1 else math.max(lo + 1, fix - shift)
            val events = (if (lo == 0) Seq("""{"introduced": "0"}""")
              else Seq(s"""{"introduced": ${q(versions(p)(lo))}}""")) ++
              (if (f < 0) Nil else Seq(s"""{"fixed": ${q(versions(p)(f))}}"""))
            s"""{"package": {"ecosystem": ${q(ecosystems(p % 3))}, "name": ${q(osvName(p))}}, "ranges": [{"type": "ECOSYSTEM", "events": [${events.mkString(", ")}]}]}"""
          }
          val refs = (Seq(s"""{"type": "ADVISORY", "url": ${q(s"https://example.org/advisories/$id")}}""") ++
            commit.map(u => s"""{"type": "FIX", "url": ${q(u)}}""")).mkString(", ")
          val json =
            s"""{"id": ${q(id)}, "modified": "2024-0${1 + rev}-1${n % 10}T00:00:00Z", "published": "2024-01-01T00:00:00Z", "aliases": [${aliases.map(q).mkString(", ")}], "summary": ${q(s"$summary (revision ${rev + 1})")}, "affected": [${affected.mkString(", ")}], "severity": [{"type": "CVSS_V3", "score": ${q(vector)}}], "references": [$refs], "database_specific": {"cwe_ids": ["CWE-$cwe"]}}"""
          docs += ((ds, json))
        }
        GenAdvisory(ds, id, aliases, s"$summary (revision $revisions)",
          impacts.map { case (p, lo, fix, _) => (p, lo, fix) }, revisions)
      }
      out ++= members
      comps += members.map(_.avid)
      i += size
    }
    // feed order is shuffled so revisions of one advisory do not arrive
    // adjacent (latest-flagging must not depend on arrival order)
    val shuffled = new scala.util.Random(r.nextLong()).shuffle(docs.toIndexedSeq)
    new AdvisoryFeed(shuffled, out.toIndexedSeq, comps.toIndexedSeq, purls,
      versions, zipf)
  }
}
