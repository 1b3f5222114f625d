package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Bridge

import graft.dftly.{Dftly, Node, Yaml}
import graft.ops.Dedup

/** One workload of the closed loop. `prepare(i)` is the client making job
  * `i`'s request (untimed); `job(i)` is the timed work and ends in a sink
  * that discards the rows; `afterJob(i)` reads per-job results (untimed).
  */
abstract class Workload(val spark: SparkSession, val dir: Path, val seed: Long, val t: Tracer) {
  def rowsPerJob: Long
  /** Build the inputs from the seed and open them. Timed as `setup_s`. */
  def setup(): Unit
  def prepare(i: Int): Unit = ()
  def job(i: Int): Unit
  /** Failures found right after job `i`. */
  def afterJob(i: Int): Seq[String] = Nil
  /** Output checks of the timed `jobs`, outside the timed window:
    * failures, each with the job it concerns, or None when it concerns
    * every job.
    */
  def check(jobs: Range): Seq[(Option[Int], String)]
  /** Per-job input facts for the traced run: splits and MB of the opened relation. */
  def inputFacts: (Double, Double)

  protected def path(name: String): String = dir.resolve(name).toString

  protected def sizeMb(p: String): Double =
    Files.walk(java.nio.file.Paths.get(p)).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum / 1e6

  protected def noop(df: DataFrame): Unit =
    t.span("exec.action")(df.write.format("noop").mode("overwrite").save())
}

object Workloads {

  def apply(name: String, spark: SparkSession, dir: Path, seed: Long, t: Tracer): Workload =
    name match {
      case "etl_scan"   => new EtlScan(spark, dir, seed, t)
      case "opmap_wide" => new OpMapWide(spark, dir, seed, t)
      case "neardup"    => new NearDup(spark, dir, seed, t)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: etl_scan, opmap_wide, neardup)")
    }

  def nodes(n: Node): Int = 1 + n.children.map(nodes).sum

  /** The dftly path of a job: YAML → parse → compile, giving one named
    * column per op-map entry.
    */
  def compileOpMap(df: DataFrame, yaml: String, t: Tracer): Seq[Column] = {
    val exprs = t.span("dftly.load")(Yaml.loadExprMap(yaml))
    val parsed = t.span("dftly.parse")(exprs.map { case (n, v) => n -> Dftly.parse(v) })
    val schema = Some(df.schema)
    val cols = t.span("dftly.compile")(parsed.map { case (n, node) => Dftly.compile(node, schema).as(n) })
    t.count("dftly.exprs", exprs.size)
    t.count("dftly.nodes", parsed.map(p => nodes(p._2)).sum)
    cols
  }

  def applyOpMap(df: DataFrame, yaml: String, t: Tracer): DataFrame = {
    val cols = compileOpMap(df, yaml, t)
    val out = t.span("catalyst.select")(df.select(cols: _*))
    t.analyzed(out)
    out
  }

  private def hash32(h: Column): Column = h.bitwiseAND(lit(0xFFFFFFFFL))

  /** Compare dftly's output for an op-map with the SQL twins: the same data
    * type per entry, and the same order-independent checksum (sum of 32-bit
    * hashes of each row's values), both sides computed in one pass over
    * `df`. On a mismatch the entries that differ are found column by column.
    */
  def twinCheck(df: DataFrame, entries: Seq[Templates.Entry], what: String): Seq[String] = {
    val dftly = compileOpMap(df, Templates.yaml(entries), Tracer.Off)
    val both = df.select(
      dftly.zipWithIndex.map { case (c, i) => c.as(s"d$i") } ++
        entries.zipWithIndex.map { case (e, i) => expr(e.expr.sql).as(s"t$i") }: _*)
    def describe(e: Templates.Entry) = s"$what ${e.name} [${e.template}] ${e.yamlValue} vs ${e.expr.sql}"
    val typeErrors = entries.indices.flatMap { i =>
      val (a, b) = (both.schema(s"d$i").dataType, both.schema(s"t$i").dataType)
      if (a == b) None else Some(s"type $a != twin type $b: ${describe(entries(i))}")
    }
    if (typeErrors.nonEmpty) return typeErrors
    def checksums(side: String, idx: Seq[Int]): Seq[Column] =
      idx.map(i => sum(hash32(xxhash64(col(s"$side$i")))))
    val all = entries.indices
    val rowHash = Seq("d", "t").map(side => sum(hash32(xxhash64(all.map(i => col(s"$side$i")): _*))))
    val whole = both.agg(rowHash.head, rowHash.tail: _*).head()
    if (whole.get(0) == whole.get(1)) Nil
    else {
      val aggs = checksums("d", all) ++ checksums("t", all)
      val sums = both.agg(aggs.head, aggs.tail: _*).head()
      val n = entries.size
      val bad = all.filter(i => sums.get(i) != sums.get(n + i))
      if (bad.isEmpty) Seq(s"$what: row checksum ${whole.get(0)} != twin ${whole.get(1)}")
      else bad.map(i => s"checksum ${sums.get(i)} != twin ${sums.get(n + i)}: ${describe(entries(i))}")
    }
  }
}

/** Batch ETL as the paper describes it: open the measurements table and
  * apply one fixed op-map in a single select.
  */
final class EtlScan(spark: SparkSession, dir: Path, seed: Long, t: Tracer)
    extends Workload(spark, dir, seed, t) {
  val rowsPerJob = 2000000L
  private val table = path("measurements")
  private val opMap = Templates.yaml(Gen.etlOpMap)
  private var splits = 0

  def setup(): Unit = {
    // sixteen files: the scan splits into several tasks per core
    Gen.measurements(spark, rowsPerJob, seed, 16).write.mode("overwrite").parquet(table)
    splits = Bridge.partitions(spark.read.parquet(table))
  }

  def job(i: Int): Unit = {
    val df = t.span("input.open")(spark.read.parquet(table))
    noop(Workloads.applyOpMap(df, opMap, t))
  }

  def check(jobs: Range): Seq[(Option[Int], String)] =
    Workloads.twinCheck(spark.read.parquet(table), Gen.etlOpMap, "etl_scan").map(None -> _)

  def inputFacts: (Double, Double) = (splits.toDouble, sizeMb(table))
}

/** The config-pipeline path: every job compiles a new 108-entry op-map
  * and applies it to a small cached slice of the same table.
  */
final class OpMapWide(spark: SparkSession, dir: Path, seed: Long, t: Tracer)
    extends Workload(spark, dir, seed, t) {
  val rowsPerJob = 1000L
  private val table = path("slice")
  private var slice: DataFrame = _
  private var yaml = ""

  def setup(): Unit = {
    if (slice != null) slice.unpersist(blocking = true)
    Gen.measurements(spark, rowsPerJob, seed, 1).write.mode("overwrite").parquet(table)
    slice = spark.read.parquet(table).cache()
    slice.count()
  }

  override def prepare(i: Int): Unit = {
    yaml = Templates.yaml(Gen.wideOpMap(seed, i))
  }

  def job(i: Int): Unit = noop(Workloads.applyOpMap(slice, yaml, t))

  /** Each check is driver-bound Catalyst work on a tiny input, so they run
    * one per core at once.
    */
  def check(jobs: Range): Seq[(Option[Int], String)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    try {
      val futures = jobs.map(i => pool.submit(() =>
        Workloads.twinCheck(slice, Gen.wideOpMap(seed, i), s"opmap_wide#$i").map(Some(i) -> _)))
      futures.flatMap(_.get())
    } finally pool.shutdown()
  }

  def inputFacts: (Double, Double) = (0.0, 0.0)
}

/** MinHash-LSH near-duplicate detection over a corpus with planted
  * clusters and one boilerplate cluster larger than the bucket cap.
  */
final class NearDup(spark: SparkSession, dir: Path, seed: Long, t: Tracer)
    extends Workload(spark, dir, seed, t) {
  import NearDup._
  val rowsPerJob = Gen.CorpusDocs.toLong
  private val table = path("corpus")
  private var corpus: Gen.Corpus = _
  private var splits = 0
  private var expectedPairs = -1L

  def setup(): Unit = {
    corpus = Gen.corpus(seed)
    import spark.implicits._
    spark.sparkContext.parallelize(corpus.docs, 8).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(table)
    splits = Bridge.partitions(spark.read.parquet(table))
  }

  /** The operator under test with the bench's fixed parameters (its
    * defaults, spelled out so the expected skew-cap count follows from them).
    */
  private def pairs(df: DataFrame): DataFrame =
    Dedup.nearDuplicatePairs(df, "doc_id", "text", threshold = Threshold,
      numHashes = NumHashes, bands = Bands, maxBucketSize = MaxBucket)

  private var last: DataFrame = _

  def job(i: Int): Unit = {
    val df = t.span("input.open")(spark.read.parquet(table))
    val out = t.span("ops.plan")(pairs(df).observe(PairsObs, count(lit(1)).as("n")))
    // not the noop writer: the bucket statistics are read with
    // Dedup.observedBucketStatsAll, which needs the action to run this
    // frame's own plan (a write plans the query again)
    t.span("exec.action")(Bridge.runDiscarding(out))
    last = out
  }

  /** (pairs emitted, max bucket, buckets truncated, rows in truncated) of job output. */
  private def stats(out: DataFrame): (Long, Long, Long, Long) = {
    val (maxB, trunc, rows) =
      Dedup.observedBucketStatsAll(out).map(_._2).headOption.getOrElse((-1L, -1L, -1L))
    val n = Bridge.observed(Bridge.executedPlan(out)).get(PairsObs).map(_.getLong(0)).getOrElse(-1L)
    (n, maxB, trunc, rows)
  }

  /** The skew cap drops every band bucket of the boilerplate cluster:
    * one truncated bucket per band.
    */
  private def expectedTruncated: Long = if (corpus.boilerplate.size > MaxBucket) Bands else 0

  override def afterJob(i: Int): Seq[String] = {
    val (n, maxB, trunc, rows) = stats(last)
    t.count("ops.pairs_emitted", n.toDouble)
    t.count("ops.max_bucket", maxB.toDouble)
    t.count("ops.buckets_truncated", trunc.toDouble)
    t.count("ops.rows_in_truncated", rows.toDouble)
    val errs = mutable.ArrayBuffer[String]()
    if (trunc != expectedTruncated)
      errs += s"neardup job $i: buckets_truncated $trunc != planted over-cap count $expectedTruncated"
    if (rows != expectedTruncated * corpus.boilerplate.size)
      errs += s"neardup job $i: rows_in_truncated $rows != ${expectedTruncated * corpus.boilerplate.size}"
    if (expectedPairs < 0) expectedPairs = n
    else if (n != expectedPairs) errs += s"neardup job $i: $n pairs, earlier jobs emitted $expectedPairs"
    errs.toSeq
  }

  def check(jobs: Range): Seq[(Option[Int], String)] = {
    import spark.implicits._
    val docs = spark.read.parquet(table)
    val out = pairs(docs).cache()
    try {
      val errs = mutable.ArrayBuffer[String]()
      val n = out.count()
      if (expectedPairs >= 0 && n != expectedPairs)
        errs += s"check run emitted $n pairs, timed jobs emitted $expectedPairs"
      // exact Jaccard of word 3-gram sets with built-in array functions only
      // (every generated document has at least 60 tokens)
      val ids = out.select(col("id_a").as("doc_id")).union(out.select(col("id_b"))).distinct()
      val sh = docs.join(ids, "doc_id").select(col("doc_id"), split(col("text"), " ").as("tok"))
        .select(col("doc_id"), array_distinct(transform(sequence(lit(0), size(col("tok")) - 3),
          k => concat_ws(" ", slice(col("tok"), k + 1, lit(3))))).as("sh"))
      val exact = size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh")))
      val Row(wrong: Long, boiler: Long) = out
        .join(sh.as("a"), col("id_a") === col("a.doc_id"))
        .join(sh.as("b"), col("id_b") === col("b.doc_id"))
        .agg(
          coalesce(sum(when(exact < Threshold || abs(exact - col("jaccard")) > 1e-9, 1L)), lit(0L)),
          coalesce(sum(when(col("id_a").isin(corpus.boilerplate.toSeq: _*), 1L)), lit(0L)))
        .head()
      if (wrong > 0)
        errs += s"precision: $wrong of $n emitted pairs are below $Threshold exact Jaccard or misreport it"
      if (boiler > 0) errs += s"$boiler pairs inside the over-cap boilerplate cluster"
      val missed = corpus.planted.toDF("id_a", "id_b").join(out, Seq("id_a", "id_b"), "left_anti").count()
      if (missed > 0) errs += s"recall: $missed of ${corpus.planted.size} planted pairs not emitted"
      errs.toSeq.map(e => None -> s"neardup $e")
    } finally out.unpersist()
  }

  def inputFacts: (Double, Double) = (splits.toDouble, sizeMb(table))
}

object NearDup {
  val Threshold = 0.8
  val NumHashes = 64
  val Bands = 16
  val MaxBucket = 1000
  private val PairsObs = "perfbench_pairs"
}
