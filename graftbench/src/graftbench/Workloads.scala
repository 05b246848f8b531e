package graftbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{AggFunction, Catalog, ChangeType, GraftMetrics, GraftTable, MergeEngine,
  Meta, TableDescriptor}
import graft.pipeline.{Dedup, TextAnalysis}
import graft.streaming.{GraftStream, LogPoller}

/** The shape of one workload. Every workload runs the upsert, poll,
  * lookup and query op kinds, so that each prints every end-to-end
  * metric; the shape decides which kind dominates.
  *
  * @param agg         aggregation merge engine (v: sum, ver: max,
  *                    cat: last_value) instead of last-write-wins
  * @param batch       rows per upsert
  * @param newShare    share of each batch that is new keys; the rest
  *                    are existing keys, Zipf(`zipf`)-skewed when
  *                    `zipf` > 0
  * @param bulk        Spark generates each batch from `spark.range`
  *                    ([[Gen.Bulk]]); otherwise the driver builds it
  *                    from rows, as a client would
  * @param tier        the traced run also tiers the table into each of
  *                    the four lake formats after the cycles
  * @param corpus      the traced run also deduplicates a corpus after
  *                    the cycles
  */
final case class Shape(agg: Boolean, batch: Int, newShare: Double,
    zipf: Double, bulk: Boolean, tier: Boolean, corpus: Boolean)

object Shape {
  val Buckets = 16
  /** Keys loaded in set-up. */
  val Keys = 20000
  /** Cycles between two maintenance points. */
  val Period = 2
  /** Warm-up and measured cycles. */
  val WarmCycles = 2
  val Cycles = 6
  require(WarmCycles % Period == 0 && Cycles % Period == 0,
    "warm-up and measured phase are whole numbers of maintenance periods")
  /** Documents in a traced run's corpus. */
  val CorpusDocs = 300

  val all: Map[String, Shape] = Map(
    // online PK serving: small Zipf-skewed upserts from the client, a
    // poll, read-your-writes and uniform lookups and an aggregate per
    // cycle; fixed per-op cost (metadata IO, planning, job scheduling)
    // dominates. The traced run adds a corpus through the dedup stages
    // (here, so that neither traced run carries both extras)
    "pk_serve" -> Shape(agg = false, batch = 1000, newShare = 0.0, zipf = 1.1,
      bulk = false, tier = false, corpus = true),
    // bulk changelog plus analytics: 10k-row generated batches into the
    // aggregation engine, the same ops per cycle; fixed cost still
    // dominates, larger batches do not fit the time budget. The traced
    // run adds the four lake tiers
    "pk_bulk" -> Shape(agg = true, batch = 10000, newShare = 0.01, zipf = 0.0,
      bulk = true, tier = true, corpus = false))
}

/** Ops attempted and failed. An op fails when it throws or when its
  * result disagrees with the model.
  */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()

  def record[A](res: Either[String, A])(check: A => Option[String]): Option[A] = {
    attempted += 1
    val bad = res.fold(Some(_), check)
    bad.foreach { msg => failed += 1; if (failures.size < 10) failures += msg }
    res.toOption.filter(_ => bad.isEmpty)
  }
}

/** One workload run: set-up, warm-up, the measured phase, and the end
  * measurements. Ops run in one client thread, each after the previous
  * one returned (closed loop).
  */
final class Workload(spark: SparkSession, name: String, shape: Shape,
    seed: Long, tracer: Tracer, runDir: String) {
  import Workload._

  private val rnd = new SplittableRandom(seed * 1000003L + name.hashCode)
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap(Seq("upsert", "lookup", "freshness", "poll", "query")
      .map(_ -> mutable.ArrayBuffer[Double]()): _*)
  val ledger = new Ledger
  var measuring = false
  var rowsUpserted = 0L
  var inputBytes = 0L
  var docsDeduped = 0L
  var dedupSeconds = 0.0
  var measuredCycles = 0

  private val catalog = new Catalog(s"$runDir/warehouse", spark)
  catalog.createDatabase("db")
  private var table: GraftTable = _
  private val tableName = "t"
  private var model: PkModel = _
  private var poller: LogPoller = _
  private var logTable: GraftTable = _
  private var liveKeys = Shape.Keys
  private var ver = 0L
  private val zipf = if (shape.zipf > 0) new Zipf(Shape.Keys, shape.zipf, rnd) else null
  private val vocab = Gen.vocabulary(rnd, 4000)
  private var nextDocId = 0L

  /** Adds to a traced counter, measured phase only. */
  private def note(name: String, v: Double): Unit = if (measuring) tracer.add(name, v)

  /** Times one op; a throw or a model mismatch counts it failed. */
  private def op[A](kind: String, layer: String, sample: Boolean = true)(
      body: => A)(check: A => Option[String]): Option[A] = {
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(kind, layer)(body))
      catch { case NonFatal(e) => Left(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring && sample && samples.contains(kind)) samples(kind) += ms
    ledger.record(res)(check)
  }

  private def pkDesc: TableDescriptor = TableDescriptor(PkSchema,
    primaryKey = Seq("k"), numBuckets = Shape.Buckets,
    mergeEngine = if (shape.agg) MergeEngine.Aggregation(Map("v" -> AggFunction.Sum,
      "ver" -> AggFunction.Max, "cat" -> AggFunction.LastValue)) else MergeEngine.Default)

  // initial rows are a function of the key, computed the same way by
  // Spark (the load) and the model
  private def initialCat(k: Long): String = Gen.Cats(((k * 7 + seed) % Gen.Cats.length).toInt)
  private def initialV(k: Long): Long = (k * 31 + seed) % 1000

  /** Creates the PK table and loads the initial keys. Returns the
    * seconds it took.
    */
  def setUp(): Double = {
    val t0 = System.nanoTime()
    table = catalog.createTable("db", tableName, pkDesc)
    val cats = typedLit(Gen.Cats.toSeq)
    tracer.span("load", "core") {
      table.upsert(spark.range(Shape.Keys).select(col("id").as("k"),
        element_at(cats, ((col("id") * 7 + seed) % Gen.Cats.length + 1).cast("int")).as("cat"),
        ((col("id") * 31 + seed) % 1000).as("v"), lit(0L).as("ver")))
    }
    model = new PkModel(shape.agg)
    (0L until Shape.Keys).foreach(k => model.state(k) = PkRow(k, initialCat(k), initialV(k), 0L))
    poller = new LogPoller(table, "bench", GraftStream.StartupMode.Latest)
    (System.nanoTime() - t0) / 1e9
  }

  private def createLogTable(): Unit =
    logTable = catalog.createTable("db", "corpus", TableDescriptor(DocSchema,
      numBuckets = Shape.Buckets))

  private def rowsDf(rows: Seq[PkRow]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map(r => Row(r.k, r.cat, r.v, r.ver)): _*), PkSchema)

  private def pkRow(r: Row): PkRow = PkRow(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))

  /** The next batch: its rows for the model, and how to build the
    * DataFrame the engine receives.
    */
  private def nextBatch(): (Seq[PkRow], () => DataFrame) = {
    val nNew = (shape.batch * shape.newShare).round.toInt
    val live = liveKeys
    liveKeys += nNew
    if (shape.bulk) {
      val b = Gen.Bulk(shape.batch, nNew, live, ver + 1, rnd.nextLong(1L << 40),
        rnd.nextLong(1L << 40), rnd.nextLong(1L << 40))
      ver += shape.batch
      (b.rows, () => spark.range(shape.batch).select(b.columns: _*))
    } else {
      val old = (0 until shape.batch - nNew).map { _ =>
        if (zipf != null) zipf.next().toLong else rnd.nextInt(live).toLong }
      val rows = Gen.shuffle(old ++ (0 until nNew).map(i => (live + i).toLong), rnd).map { k =>
        ver += 1
        PkRow(k, Gen.Cats(rnd.nextInt(Gen.Cats.length)), rnd.nextInt(1000).toLong, ver)
      }
      (rows, () => rowsDf(rows))
    }
  }

  /** Upsert, the poll that must return it, read-your-writes lookup,
    * uniform lookup.
    */
  private def pkCycle(): Unit = {
    val (batch, makeDf) = nextBatch()
    model.apply(batch)
    val keys = batch.iterator.map(_.k).toSet
    if (measuring) {
      rowsUpserted += batch.size
      inputBytes += batch.iterator.map(r => 24L + r.cat.length).sum
    }
    // freshness runs from here to the collected poll; model work stays out
    val createdNs = System.nanoTime()
    val df = makeDf()
    op("upsert", "core") { table.upsert(df, orderBy = Seq(col("ver"))) } { _ => None }
    var polledNs = 0L
    op("poll", "streaming") {
      val rows = poller.poll().filter(col(Meta.ChangeTypeCol).isin(ChangeType.upserts: _*))
        .select(col(Meta.Offset), col(Meta.Bucket), col("k"), col("cat"), col("v"), col("ver"))
        .collect().toSeq
      polledNs = System.nanoTime()
      rows
    } { rows =>
      note("poll_rows", rows.size)
      model.pollMismatch(keys, rows.map(r => (r.getLong(0), r.getInt(1),
        PkRow(r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5)))))
    }.foreach(_ => if (measuring) samples("freshness") += (polledNs - createdNs) / 1e6)
    lookup(Gen.shuffle(keys.toIndexedSeq.sorted, rnd).take(LookupKeys))
    lookup((0 until LookupKeys).map(_ => rnd.nextInt(liveKeys).toLong))
    if (tracer.enabled) probes()
  }

  private def lookup(keys: Seq[Long]): Unit = {
    op("lookup", "core") {
      table.lookupAll(keys.map(k => Map[String, Any]("k" -> k)))
        .select("k", "cat", "v", "ver").collect().toSeq.map(pkRow)
    } { got => model.lookupMismatch(keys, got) }
    note("lookup_keys", keys.size)
  }

  private def query(): Unit =
    op("query", "connector") {
      spark.sql(s"SELECT cat, sum(v) AS s, max(ver) AS m, count(*) AS n " +
        s"FROM $CatalogName.db.$tableName GROUP BY cat").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    } { got => model.queryMismatch(got) }

  private def maintain(): Unit = {
    op("compact", "core", sample = false) { table.compact() } { _ => None }
    op("vacuum", "core", sample = false) { table.vacuumLog() } { _ => None }
  }

  /** A full export of the current state into a fresh directory of
    * each lake format.
    */
  private def tiers(): Unit =
    Formats.foreach { fmt =>
      op(s"tier_$fmt", "core", sample = false) {
        table.tierSnapshot(s"$runDir/lake/$tableName-$fmt", fmt)
      } { _ => None }
    }

  /** Traced runs only: timed metadata probes between cycles. */
  private def probes(): Unit = {
    val t0 = System.nanoTime()
    tracer.span("manifest_probe", "core")(table.latestOffsets)
    note("manifest_read_ms", (System.nanoTime() - t0) / 1e6)
    val t1 = System.nanoTime()
    val files = tracer.span("listing_probe", "core")(table.logFileCount)
    note("listing_ms", (System.nanoTime() - t1) / 1e6)
    note("log_files", files.toDouble)
    note("probes", 1)
  }

  /** The dedup stages over one generated corpus, checked against the
    * planted copies; the keepers are appended to the corpus log table.
    */
  private def dedupCorpus(n: Int): Unit = {
    val docs = Gen.corpus(rnd, vocab, nextDocId, n, chars = 300, exactShare = 0.03,
      nearShare = 0.10, editShare = 0.05, junkShare = 0.02)
    nextDocId += n
    val corpusModel = new CorpusModel(docs, Shingle, Threshold, slack = 0.05)
    val df = spark.createDataFrame(java.util.Arrays.asList(
      docs.map(d => Row(d.id, d.text)): _*), CorpusSchema)
    note("dedup_input_docs", n)
    val t0 = System.nanoTime()
    val kept = op("dedup", "pipeline", sample = false) { runStages(df) } { rows =>
      corpusModel.mismatch(rows.iterator.map(_._1).toSet) }
    if (measuring) { docsDeduped += n; dedupSeconds += (System.nanoTime() - t0) / 1e9 }
    val out = kept.getOrElse(Nil)
    note("dedup_kept_docs", out.size)
    op("append", "core", sample = false) {
      logTable.append(spark.createDataFrame(java.util.Arrays.asList(
        out.map(k => Row(k._1, k._2, k._3)): _*), DocSchema), orderBy = Seq(col("id")))
    } { _ => None }
  }

  private def runStages(df: DataFrame): Seq[(Long, String, Double)] = {
    val exact = tracer.span("exact", "pipeline") {
      df.join(Dedup.exact(df, "id", "text").select(col("keep_id").as("id")), "id")
        .localCheckpoint()
    }
    val (shingled, sigs) = tracer.span("shingle_sign", "pipeline") {
      val sh = Dedup.hashedShingleDocs(exact, "id", "text", Shingle).localCheckpoint()
      (sh, Dedup.minhashSignaturesFromDocs(sh, NumHashes).localCheckpoint())
    }
    val found = Dedup.minhashLshVerifiedPairsFromSigs(shingled, sigs, Threshold, NumHashes, Bands)
    val pairs = tracer.span("lsh_verify", "pipeline")(found.localCheckpoint())
    if (tracer.enabled) {
      // the rows out of the engine's own candidate distinct, as its
      // executed plan counted them
      note("candidate_pairs", Tracer.distinctRows(found.queryExecution.executedPlan,
        Seq("a_id", "b_id")).toDouble)
      note("verified_pairs", tracer.span("verified_probe", "pipeline")(pairs.count()).toDouble)
    }
    val unique = tracer.span("components", "pipeline") {
      val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
      exact.join(cc, Seq("id"), "left")
        .filter(coalesce(col("component"), col("id")) === col("id"))
        .select("id", "text").localCheckpoint()
    }
    tracer.span("quality", "pipeline") {
      unique.select(col("id"), TextAnalysis.langId(col("text")).as("lang"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .filter(col("q") >= MinQuality).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    }
  }

  /** One cycle of the workload's mix: everything but maintenance. */
  private def cycle(): Unit = {
    tracer.request += 1
    if (measuring) measuredCycles += 1
    pkCycle()
    query()
  }

  /** Warm-up on the measured table, checked but not sampled: whole
    * maintenance periods of the workload's cycles, so the measured
    * phase starts on a compacted table after a maintenance point, as
    * every later period does.
    */
  def warmUp(): Unit = cycles(Shape.WarmCycles)

  /** `n` cycles, with maintenance after every `Shape.Period`-th. */
  private def cycles(n: Int): Unit =
    (1 to n).foreach { c =>
      cycle()
      if (c % Shape.Period == 0) maintain()
    }

  /** The measured phase: a fixed op sequence for the seed. Returns the
    * seconds of its PK cycles. A traced run then tiers and deduplicates
    * (when the shape has them), for per-layer metrics only; an untraced
    * run spends that time on no end-to-end metric, so it skips them.
    */
  def measure(): Double = {
    measuring = true
    val t0 = System.nanoTime()
    cycles(Shape.Cycles)
    val pkSeconds = (System.nanoTime() - t0) / 1e9
    if (tracer.enabled) {
      if (shape.tier) tiers()
      if (shape.corpus) {
        createLogTable()
        dedupCorpus(Shape.CorpusDocs)
      }
    }
    measuring = false
    pkSeconds
  }

  /** Table directory bytes ÷ bytes of its live state written once as
    * plain parquet.
    */
  def spaceAmp(): Double = {
    val live = s"$runDir/live"
    table.scan().write.mode("overwrite").parquet(live)
    dirBytes(table.path).toDouble / dirBytes(live)
  }

  def manifestBytes: Long = new java.io.File(table.path.stripPrefix("file:"), "_offsets.json").length()
  def tablePath: String = table.path
  def liveRows: Int = model.state.size
  def committedRows: Long = GraftMetrics.counter(table.path, GraftMetrics.CommittedRows)
  def commitConflicts: Long = GraftMetrics.counter(table.path, GraftMetrics.CommitConflicts)
}

object Workload {
  val CatalogName = "gc"
  val LookupKeys = 32
  val Shingle = 5
  val NumHashes = 60
  val Bands = 20
  val Threshold = 0.8
  val MinQuality = 0.5
  val Formats: Seq[String] = Seq("iceberg", "delta", "paimon", "hudi")

  val PkSchema: StructType = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("cat", StringType), StructField("v", LongType), StructField("ver", LongType)))
  val CorpusSchema: StructType = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("text", StringType)))
  val DocSchema: StructType = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("lang", StringType), StructField("q", DoubleType)))

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new java.io.File(path.stripPrefix("file:")))
  }
}
