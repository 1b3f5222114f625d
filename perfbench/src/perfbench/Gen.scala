package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs; the
  * program under test only ever sees what these produce.
  */
object Gen {

  val Subjects = 20000

  val Codes: Seq[String] = Seq(
    "LAB//HR", "LAB//GLUCOSE", "LAB//CREATININE", "LAB//COVID", "VITAL//BP",
    "VITAL//TEMP", "VITAL//WEIGHT", "DX//ICD10//E11.9", "DX//ICD10//I10",
    "MED//RX//4021", "ADMISSION//ED", "DISCHARGE")

  private val NumericCodes = Set("LAB//HR", "LAB//GLUCOSE", "LAB//CREATININE",
    "VITAL//TEMP", "VITAL//WEIGHT", "MED//RX//4021")

  /** A MEDS-like measurements table: one row per (subject, time, code)
    * event. Row `i` depends only on `i` and the seed, so any row range of
    * the table is the same whatever the partitioning. `numeric_value` is
    * null for non-numeric codes; `text_value` holds blood pressure readings
    * ("120/80") and test results, null elsewhere.
    */
  def measurements(spark: SparkSession, rows: Long, seed: Long, partitions: Int): DataFrame = {
    def u(k: Int, m: Long) = pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(m))
    val code = element_at(array(Codes.map(lit): _*), (u(3, Codes.size) + 1).cast("int"))
    spark.range(0, rows, 1, partitions).select(
      (u(1, Subjects) + 1).as("subject_id"),
      // 2015-01-01 plus up to 8 years, whole seconds
      timestamp_seconds(u(2, 8L * 365 * 86400) + 1420070400L).cast("timestamp_ntz").as("time"),
      code.as("code"),
      when(code.isin(NumericCodes.toSeq: _*), u(4, 30000) / 100.0).as("numeric_value"),
      when(code === "VITAL//BP",
        concat((u(5, 80) + 90).cast("string"), lit("/"), (u(6, 50) + 50).cast("string")))
        .when(code === "LAB//COVID",
          element_at(array(lit("positive"), lit("negative"), lit("indeterminate")),
            (u(5, 3) + 1).cast("int")))
        .as("text_value"))
  }

  /** The fixed `etl_scan` op-map: one entry from each of 20 templates that
    * together cover every node family, mostly in string form. It does not
    * depend on the seed; it repeats on every job.
    */
  val etlOpMap: Seq[Templates.Entry] = {
    val r = new Random(20170101L)
    Seq("arith_lin", "arith_div", "div_guard", "power", "mean", "compare_and", "not_or",
      "cond_else", "coalesce", "len_chars", "substring", "fstring", "regex_match",
      "regex_extract", "regex_group", "cast", "dt_part", "dt_total", "dt_add", "strptime")
      .zipWithIndex.map { case (t, i) =>
        Templates.Entry(s"e$i", dictForm = i % 4 == 3, Templates.byName(t).draw(r), t)
      }
  }

  /** Entries per template in a wide op-map, half of them in dict form. */
  val WidePerTemplate = 4
  val WideEntries: Int = WidePerTemplate * Templates.all.size

  /** Op-map `job` of the `opmap_wide` stream for `seed`: [[WideEntries]]
    * entries, every template exactly [[WidePerTemplate]] times and half of
    * those in dict form, in a shuffled order with fresh constants, so each
    * op-map is new but has the same make-up as every other.
    */
  def wideOpMap(seed: Long, job: Int): Seq[Templates.Entry] = {
    val r = new Random(new Random(seed).nextLong() ^ (job.toLong * 0x9E3779B97F4A7C15L))
    val picks = Templates.all.flatMap(t => Seq.tabulate(WidePerTemplate)(k => (t, k % 2 == 0)))
    r.shuffle(picks).zipWithIndex.map { case ((t, dict), i) =>
      Templates.Entry(f"w$i%03d", dict, t.draw(r), t.name)
    }
  }

  // ------------------------------------------------------------------ corpus

  /** A near-duplicate corpus with a known answer.
    *
    * @param docs     (doc_id, text) in shuffled order
    * @param planted  (root, member) id pairs, lower id first; each member is
    *                 its root with one token replaced or appended, so the
    *                 exact word 3-gram Jaccard to the root is ≥ 0.9
    * @param boilerplate ids of the identical boilerplate documents: one
    *                 cluster larger than the near-dup operator's bucket cap
    */
  final case class Corpus(docs: IndexedSeq[(Long, String)], planted: Seq[(Long, Long)],
      boilerplate: Set[Long]) {
    def checksum: Long = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      docs.foreach { case (id, t) => md.update(s"$id\t$t\n".getBytes("UTF-8")) }
      java.nio.ByteBuffer.wrap(md.digest()).getLong
    }
  }

  val CorpusDocs = 40000
  val BoilerplateCopies = 1200
  private val ClusteredShare = 0.3
  private val Vocabulary = 6000
  private val MinTokens = 60
  private val MaxTokens = 70

  def shingles(tokens: Seq[String], n: Int = 3): Set[String] =
    tokens.sliding(n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  def corpus(seed: Long, docs: Int = CorpusDocs, boilerplateCopies: Int = BoilerplateCopies): Corpus = {
    val r = new Random(seed)
    val vocab = {
      val s = mutable.LinkedHashSet[String]()
      while (s.size < Vocabulary)
        s += Seq.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
      s.toIndexedSeq
    }
    def word(): String = vocab(r.nextInt(vocab.size))
    def doc(): Vector[String] = Vector.fill(MinTokens + r.nextInt(MaxTokens - MinTokens + 1))(word())
    def mutate(root: Vector[String]): Vector[String] = {
      def other(w: String): String = Iterator.continually(word()).dropWhile(_ == w).next()
      val m = r.nextInt(3) match {
        case 0 =>
          val p = 1 + r.nextInt(root.size - 2)
          root.updated(p, other(root(p)))
        case 1 => root.updated(root.size - 1, other(root.last))
        case _ => root :+ word()
      }
      if (jaccard(shingles(root), shingles(m)) >= 0.9) m else root :+ word()
    }
    // (tokens, cluster id or -1, is root)
    val rows = mutable.ArrayBuffer[(Vector[String], Int, Boolean)]()
    val bp = doc()
    rows ++= Seq.fill(boilerplateCopies)((bp, -2, false))
    val clustered = (docs * ClusteredShare).toInt
    var cluster = 0
    while (rows.size < boilerplateCopies + clustered) {
      val root = doc()
      rows += ((root, cluster, true))
      val size = 2 + r.nextInt(5)
      for (_ <- 1 until size) rows += ((mutate(root), cluster, false))
      cluster += 1
    }
    while (rows.size < docs) rows += ((doc(), -1, false))
    val placed = r.shuffle(rows.toIndexedSeq).zipWithIndex.map { case (row, i) => (i + 1L, row) }
    val planted = placed.filter(_._2._2 >= 0).groupBy(_._2._2).values.toSeq.flatMap { members =>
      val root = members.find(_._2._3).get._1
      members.filterNot(_._2._3).map(m => (math.min(root, m._1), math.max(root, m._1)))
    }.sorted
    Corpus(placed.map { case (id, row) => (id, row._1.mkString(" ")) }, planted,
      placed.filter(_._2._2 == -2).map(_._1).toSet)
  }
}
