package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dftly.SparkTestBase

/** Output pins for the bucket stage of [[Dedup.nearDuplicatePairs]]: the
  * pair set, the exact `jaccard` bits and the per-operator bucket
  * observation on fixed inputs (the values the bounded-collect aggregate
  * produced), plus the id-type contract: any orderable id column passes
  * through with its type, and ids order under Catalyst's ordering.
  */
class NearDupBucketSpec extends SparkTestBase {

  import spark.implicits._

  /** Seeded corpus: random singletons, planted clusters (1–3 token edits
    * of a root, so Jaccard lands on both sides of 0.7) and one identical
    * boilerplate cluster of 30 docs — over a bucket cap of 20 in every band.
    */
  private def corpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 400).map(i => s"w$i")
    def doc(): Vector[String] = Vector.fill(40 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
    val singles = Seq.fill(240)(doc())
    val clusters = Seq.fill(25) {
      val root = doc()
      root +: Seq.fill(1 + rnd.nextInt(4)) {
        (1 to 1 + rnd.nextInt(3)).foldLeft(root) { (d, _) =>
          d.updated(rnd.nextInt(d.size), vocab(rnd.nextInt(vocab.size)))
        }
      }
    }.flatten
    val boiler = doc()
    val all = rnd.shuffle(singles ++ clusters ++ Seq.fill(30)(boiler))
    all.zipWithIndex.map { case (d, i) => (i + 1L, d.mkString(" ")) }
  }

  /** (pair count, md5 of sorted `id_a,id_b,jaccard bits` lines, bucket stats). */
  private def fingerprint(pairs: DataFrame): (Int, String, Seq[(Long, Long, Long)]) = {
    val rows = pairs.collect()
    val lines = rows.map(r =>
      s"${r.get(0)},${r.get(1)},${java.lang.Double.doubleToLongBits(r.getDouble(2))}").sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    (rows.length, md5, Dedup.observedBucketStatsAll(pairs).map(_._2))
  }

  test("pinned output: seeded planted clusters with one cluster over the cap") {
    val docs = corpus(7L).toDF("doc_id", "text")
    val got = fingerprint(Dedup.nearDuplicatePairs(docs, "doc_id", "text",
      threshold = 0.7, maxBucketSize = 20))
    assert(got == ((64, "717dabe53c14f58ba2927ca730c22577", Seq((30L, 16L, 480L)))),
      s"got $got")
  }

  test("pinned output: Round6 over-cap case") {
    val df = ((1 to 40).map(i => (i.toLong, "same words every time here")) ++
      (50 to 52).map(i => (i.toLong, "an entirely different sentence altogether")))
      .toDF("id", "text")
    val pairs = Dedup.nearDuplicatePairs(df, "id", "text", threshold = 0.5, maxBucketSize = 10)
    val got = fingerprint(pairs)
    assert(got == ((3, "81a239cafc507cb017d747ff72994541", Seq((40L, 16L, 640L)))),
      s"got $got")
  }

  test("Long, Int, String and decimal ids give one pair set, jaccard and stats") {
    // zero-padded string ids sort like the numbers, so id_a < id_b agrees
    val base = corpus(11L).toDF("n", "text")
    val idCols = Seq(
      col("n"), col("n").cast(IntegerType), format_string("d%05d", col("n")),
      col("n").cast(DecimalType(38, 0)))
    val results = idCols.map { c =>
      val docs = base.select(c.as("doc_id"), col("text"))
      val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
        threshold = 0.7, maxBucketSize = 20)
      val id = docs.schema("doc_id")
      assert(pairs.schema.map(f => (f.name, f.dataType, f.nullable)) == Seq(
        ("id_a", id.dataType, id.nullable), ("id_b", id.dataType, id.nullable),
        ("jaccard", DoubleType, false)))
      val rows = pairs.collect()
      def num(v: Any): Long = v match {
        case s: String => s.drop(1).toLong
        case d: java.math.BigDecimal => d.longValueExact()
        case x: Number => x.longValue()
      }
      val set = rows.map(r => (num(r.get(0)), num(r.get(1)), r.getDouble(2))).toSet
      (set, Dedup.observedBucketStatsAll(pairs).map(_._2))
    }
    assert(results.head._1.nonEmpty && results.head._2 == Seq((30L, 16L, 480L)))
    results.tail.foreach(r => assert(r == results.head))
  }

  test("null ids order first and two nulls never pair") {
    val text = "one two three four five six seven"
    val docs = Seq(Some(1L) -> text, None -> text, None -> text, Some(2L) -> text,
      Some(3L) -> "a wholly unrelated line of words").toDF("id", "text")
    val pairs = Dedup.nearDuplicatePairs(docs, "id", "text", threshold = 0.5)
    assert(pairs.schema("id_a").nullable)
    val got = pairs.collect().map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getDouble(2))).toSet
    assert(got == Set((None, Some(1L), 1.0), (None, Some(2L), 1.0), (Some(1L), Some(2L), 1.0)))
  }
}
