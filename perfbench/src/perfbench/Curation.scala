package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{Corpus, TextDedup}
import graft.streaming.DocumentStreaming

/** `curation_stream`: fixed-size micro-batches of seeded documents through
  * the real `DocumentStreaming.curationSink` closure, whose persisted
  * state (MinHash index, substring index, ledger) grows batch over batch;
  * `compactState` folds that state every few batches. */
final class Curation(run: Run) extends Workload {
  private val spark = run.spark
  import spark.implicits._
  private val smoke = run.args.smoke
  private val batchSize = if (smoke) 150 else 1000
  private val compactEvery = 2
  private val smokeBatches = 5
  /** A region's batch count follows from `seconds` alone, never from the
    * clock, so every run on every host measures the same work: one
    * compaction cycle (2 batches, about 10 s on 4 cores) per 6 s asked
    * for, at least one, so a short (traced) region still compacts. */
  private def batches(seconds: Double): Int =
    if (smoke) smokeBatches
    else compactEvery * math.max(1, math.round(seconds / 6).toInt)
  private var region = 0
  private var root = ""
  private var arrived = mutable.ArrayBuffer.empty[GenDoc]
  private var batchNs = mutable.ArrayBuffer.empty[Long]
  private var compactNs = mutable.ArrayBuffer.empty[Long]
  private var compactMb = 0.0

  private val stateDirs = Seq("minhash_index", "substring_index", "ledger")
  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  /** Fresh root, suite registered, sink closure built. */
  private def start(tag: String, gen: DocGen): (DataFrame, Long) => Unit = {
    root = run.scratch(s"curation/$tag")
    DocumentStreaming.registerSuite(spark, s"$root/vocab",
      gen.suite.zipWithIndex.map { case (t, i) => (1000000L + i, t) }
        .toDF("doc_id", "text"), "text", "doc_id")
    DocumentStreaming.curationSink(root, "text", "doc_id")
  }

  private def compact(): Unit = run.tracer.span("streaming", "compact") {
    val ledgerEmpty = {
      val p = new java.io.File(s"$root/ledger").listFiles()
        .filter(_.getName.startsWith("batch_id=")).head.getPath
      spark.read.parquet(p).limit(0)
    }
    val empties = Map(
      "minhash_index" -> TextDedup.minHashSignatures(emptyDocs, "text",
        "doc_id", 2, 16),
      "substring_index" -> Corpus.substringDigestIndex(emptyDocs, "text",
        "doc_id", 20),
      "ledger" -> ledgerEmpty)
    stateDirs.foreach(d =>
      DocumentStreaming.compactState(spark, s"$root/$d", empties(d)))
  }

  private def stateMb: Double =
    stateDirs.map(d => AdvisoryPath.duMb(s"$root/$d")).sum

  def setup(): Unit = {
    // warm pass on its own stream and root: JIT and codegen caches
    val gen = new DocGen(run.args.seed + 7777L)
    val sink = start("warm", gen)
    (0 until 2).foreach { b =>
      sink(gen.batch(300).map(d => (d.id, d.text)).toDF("doc_id", "text"),
        b.toLong)
    }
    compact()
  }

  def timed(seconds: Double): Timed = {
    region += 1
    val gen = new DocGen(run.args.seed)
    val sink = start(s"r$region", gen)
    arrived = mutable.ArrayBuffer.empty
    batchNs = mutable.ArrayBuffer.empty
    compactNs = mutable.ArrayBuffer.empty
    var bad = 0L
    val n = batches(seconds)
    val (_, wall) = run.region {
      var b = 0
      while (b < n) {
        val docs = gen.batch(batchSize)
        val df = docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
        arrived ++= docs
        val t0 = System.nanoTime
        try run.tracer.span("streaming", "batch") { sink(df, b.toLong) }
        catch { case e: Exception =>
          bad += 1; run.check("curation batch", ok = false, e.toString) }
        batchNs += System.nanoTime - t0
        b += 1
        if (b % compactEvery == 0) {
          val c0 = System.nanoTime
          compact()
          compactNs += System.nanoTime - c0
          compactMb = stateMb
        }
      }
    }
    val (heap, storage) = run.held()
    Timed(batchNs.toSeq, arrived.size.toLong, wall, batchNs.size.toLong, bad,
      heap, storage)
  }

  /** Every parquet file under a state dir: flat (compacted) files and
    * batch-keyed partitions alike, read without partition discovery. */
  private def readAll(dir: String): DataFrame = {
    val files = mutable.ArrayBuffer.empty[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else if (f.getName.endsWith(".parquet")) files += f.getPath
    walk(new java.io.File(dir))
    spark.read.parquet(files.toSeq: _*)
  }

  private def ledgerNow = readAll(s"$root/ledger")
    .select("doc_id", "admitted").as[(Long, Boolean)].collect()

  def verify(): Unit = {
    val led = ledgerNow
    val ids = led.map(_._1)
    val want = arrived.map(_.id)
    run.check("streaming: one ledger row per arrived document",
      ids.length == want.size && ids.toSet == want.toSet,
      s"${ids.length} ledger rows (${ids.toSet.size} ids) for ${want.size} documents")
    val admitted = led.filter(_._2).map(_._1).toSet
    val exact = arrived.filter(_.kind == "exact").map(_.id)
    val leaked = exact.filter(admitted)
    run.check("streaming: every planted exact duplicate refused",
      exact.nonEmpty && leaked.isEmpty,
      s"${leaked.size} of ${exact.size} admitted, e.g. ${leaked.take(5)}")
    val suite = arrived.filter(_.kind == "suite").map(_.id)
    val screened = suite.filter(admitted)
    run.check("streaming: every planted eval-suite copy refused",
      suite.nonEmpty && screened.isEmpty,
      s"${screened.size} of ${suite.size} admitted")
  }

  def layerMetrics(t: Timed): Unit = {
    val led = ledgerNow
    run.lm("streaming.first_batch_s", batchNs.headOption.getOrElse(0L) / 1e9, "s")
    run.lm("streaming.last_batch_s", batchNs.lastOption.getOrElse(0L) / 1e9, "s")
    run.lm("streaming.state_rows", stateDirs.map(d => readAll(s"$root/$d").count())
      .sum.toDouble, "count")
    run.lm("streaming.state_mb", stateMb, "MB")
    run.lm("streaming.admitted_ratio",
      led.count(_._2).toDouble / math.max(1, led.length), "ratio")
    run.lm("streaming.compact_s",
      if (compactNs.isEmpty) 0.0 else compactNs.sum / 1e9 / compactNs.size, "s")
    run.lm("streaming.compact_mb", compactMb, "MB")
  }

  def shape: Seq[(String, String)] = Seq(
    "loop" -> "open stream, 1 writer, back-to-back micro-batches",
    "batch_docs" -> batchSize.toString,
    "batches" -> batchNs.size.toString,
    "compact_every" -> compactEvery.toString,
    "planted_rates" -> s"exact=${DocGen.exactRate} near=${DocGen.nearRate} suite=${DocGen.suiteRate}")

  override def digests: Seq[(String, String)] = Seq(
    "ledger" -> AdvisoryPath.digest(readAll(s"$root/ledger")))
}
