package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own tests: generators are seeded, every SQL twin
  * agrees with dftly row by row, and the output check catches a wrong twin.
  */
object SelfTest {

  def run(spark: SparkSession): Boolean = {
    val failures = mutable.ArrayBuffer[String]()
    def expect(cond: Boolean, what: => String): Unit = {
      println((if (cond) "ok    " else "FAIL  ") + what)
      if (!cond) failures += what
    }

    // ---- seeded generators
    expect(Gen.wideOpMap(7, 3) == Gen.wideOpMap(7, 3), "same seed and job give the same op-map")
    expect(Gen.wideOpMap(7, 3) != Gen.wideOpMap(8, 3), "another seed gives another op-map")
    expect(Gen.wideOpMap(7, 3) != Gen.wideOpMap(7, 4), "the next job gives another op-map")
    val wide = Gen.wideOpMap(7, 3)
    val perTemplate = wide.groupBy(_.template).values
    expect(wide.size == Gen.WideEntries && perTemplate.size == Templates.all.size &&
      perTemplate.forall(es => es.size == Gen.WidePerTemplate && es.count(_.dictForm) == Gen.WidePerTemplate / 2),
      "a wide op-map has every template equally often, half of each in dict form")
    expect(Gen.etlOpMap.map(e => Templates.byName(e.template).family).toSet ==
      Templates.all.map(_.family).toSet, "the etl op-map covers every node family")

    val c7 = Gen.corpus(7)
    expect(c7.checksum == Gen.corpus(7).checksum, "same seed gives the same corpus checksum")
    expect(c7.checksum != Gen.corpus(8).checksum, "another seed gives another corpus checksum")
    val texts = c7.docs.toMap
    val minPlanted = c7.planted.map { case (a, b) =>
      Gen.jaccard(Gen.shingles(texts(a).split(" ").toSeq), Gen.shingles(texts(b).split(" ").toSeq))
    }.min
    expect(minPlanted >= 0.9, s"every planted pair has exact 3-gram Jaccard >= 0.9 (min $minPlanted)")
    expect(c7.boilerplate.size == Gen.BoilerplateCopies && c7.docs.size == Gen.CorpusDocs &&
      c7.boilerplate.map(texts).size == 1, "one identical boilerplate cluster of the stated size")

    def tableSum(seed: Long): Long =
      Gen.measurements(spark, 5000, seed, 2)
        .agg(sum(xxhash64(col("subject_id"), col("time"), col("code"), col("numeric_value"),
          col("text_value")).bitwiseAND(lit(0xFFFFFFFFL)))).head().getLong(0)
    expect(tableSum(7) == tableSum(7), "same seed gives the same measurements table")
    expect(tableSum(7) != tableSum(8), "another seed gives another measurements table")

    // ---- twins agree with dftly on a small frame, row by row
    val small = Gen.measurements(spark, 3000, 11, 2).cache()
    for (t <- Templates.all) {
      val r = new Random(t.name.hashCode.toLong)
      val entries = (0 until 16).map(i => Templates.Entry(s"x$i", i % 2 == 1, t.draw(r), t.name))
      val errs = rowCheck(small, entries)
      expect(errs.isEmpty, s"twin of ${t.name} equals dftly in string and dict form" +
        errs.take(3).map("\n      " + _).mkString)
    }
    expect(Workloads.twinCheck(small, Gen.etlOpMap, "etl").isEmpty, "checksum check passes the etl op-map")
    val broken = Gen.etlOpMap.map(e =>
      if (e.template == "arith_lin") e.copy(expr = e.expr.copy(sql = e.expr.sql + " + 0.01D")) else e)
    expect(Workloads.twinCheck(small, broken, "etl").size == 1, "checksum check catches a wrong twin")
    small.unpersist()

    println(if (failures.isEmpty) "selftest: all passed" else s"selftest: ${failures.size} failed")
    failures.isEmpty
  }

  /** Entries whose dftly output differs from the twin's on some row, or in type. */
  private def rowCheck(df: DataFrame, entries: Seq[Templates.Entry]): Seq[String] =
    try {
      val dftly = Workloads.compileOpMap(df, Templates.yaml(entries), Tracer.Off)
      val both = df.select(dftly.zipWithIndex.map { case (c, i) => c.as(s"d$i") } ++
        entries.zipWithIndex.map { case (e, i) => expr(e.expr.sql).as(s"t$i") }: _*)
      val diffs = both.agg(count(lit(1)), entries.indices.map(i =>
        sum(when(col(s"d$i") <=> col(s"t$i"), 0).otherwise(1))): _*).head()
      entries.indices.flatMap { i =>
        val (a, b) = (both.schema(s"d$i").dataType, both.schema(s"t$i").dataType)
        val e = entries(i)
        if (a != b) Some(s"type $a vs twin $b: ${e.yamlValue} | ${e.expr.sql}")
        else if (diffs.getLong(1 + i) != 0)
          Some(s"${diffs.getLong(1 + i)} rows differ: ${e.yamlValue} | ${e.expr.sql}")
        else None
      }
    } catch { case scala.util.control.NonFatal(e) => Seq(s"threw $e") }
}
