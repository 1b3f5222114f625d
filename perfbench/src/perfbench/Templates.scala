package perfbench

import java.util.Locale

import scala.util.Random

/** One op-map entry written three ways: dftly string form, dftly dict form
  * (a YAML flow mapping) and a hand-written Spark SQL twin that states the
  * same semantics without dftly. The twin is what the benchmark's output
  * check trusts.
  */
final case class Expr(str: String, dict: String, sql: String)

/** A parameterised expression shape from one dftly node family. */
final case class Template(name: String, family: String, draw: Random => Expr)

/** Expression templates over the measurements table (see [[Gen.measurements]]):
  * `subject_id` bigint, `time` timestamp_ntz, `code` string, `numeric_value`
  * double (nullable), `text_value` string (nullable).
  *
  * Constraints that keep the twins exact: constants are non-negative decimal
  * literals (so string form, YAML and SQL read the same double), regexes
  * contain no `/` or backslash (no escaping differences between the three
  * spellings), and generated timestamps have whole seconds (so a timestamp
  * rendered with `::str` re-parses with `%Y-%m-%d %H:%M:%S`).
  */
object Templates {

  private def num(x: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(x))

  /** Double-quoted scalar, valid both in YAML and inside a YAML flow mapping. */
  def quote(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def value(r: Random, lo: Double, hi: Double): String =
    num(lo + r.nextInt(((hi - lo) * 100).toInt + 1) / 100.0)

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private val Comparisons = Seq(
    (">", "greater_than"), ("<", "less_than"),
    (">=", "greater_than_or_equal"), ("<=", "less_than_or_equal"))

  val all: Seq[Template] = Seq(
    // ---- arithmetic ----
    Template("arith_lin", "arithmetic", r => {
      val a = value(r, 0.5, 3.5); val b = value(r, 0, 100)
      Expr(s"$$numeric_value * $a + $b",
        s"{add: [{multiply: [{column: numeric_value}, $a]}, $b]}",
        s"numeric_value * ${a}D + ${b}D")
    }),
    Template("arith_div", "arithmetic", r => {
      val a = value(r, 0, 200); val b = value(r, 1, 50)
      Expr(s"($$numeric_value - $a) / $b",
        s"{divide: [{subtract: [{column: numeric_value}, $a]}, $b]}",
        s"(numeric_value - ${a}D) / ${b}D")
    }),
    // a zero divisor on the row whose subject_id equals k: IEEE +Infinity
    Template("div_guard", "arithmetic", r => {
      val k = 1 + r.nextInt(Gen.Subjects)
      Expr(s"$$subject_id / ($$subject_id - $k)",
        s"{divide: [{column: subject_id}, {subtract: [{column: subject_id}, $k]}]}",
        s"CASE WHEN subject_id = $k THEN CAST('Infinity' AS DOUBLE) " +
          s"ELSE subject_id / (subject_id - $k) END")
    }),
    Template("power", "arithmetic", r => {
      val b = pick(r, Seq("10.0", "100.0")); val e = 2 + r.nextInt(2)
      Expr(s"($$numeric_value / $b) ** $e",
        s"{power: [{divide: [{column: numeric_value}, $b]}, $e]}",
        s"power(numeric_value / ${b}D, $e)")
    }),
    Template("mean", "arithmetic", r => {
      val a = value(r, 0, 300)
      Expr(s"mean($$numeric_value, $a)",
        s"{mean: [{column: numeric_value}, $a]}",
        s"(coalesce(numeric_value, 0D) + ${a}D) / " +
          "(CASE WHEN numeric_value IS NULL THEN 0 ELSE 1 END + 1)")
    }),
    Template("min_max", "arithmetic", r => {
      val a = value(r, 0, 300); val f = pick(r, Seq("min", "max"))
      Expr(s"$f($$numeric_value, $a)",
        s"{$f: [{column: numeric_value}, $a]}",
        s"${if (f == "min") "least" else "greatest"}(numeric_value, ${a}D)")
    }),
    Template("hash", "arithmetic", r => {
      val c = pick(r, Seq("code", "text_value", "subject_id"))
      Expr(s"hash($$$c)", s"{hash: [{column: $c}]}",
        s"CASE WHEN $c IS NULL THEN CAST(NULL AS BIGINT) ELSE xxhash64($c) END")
    }),
    // ---- logic and comparison ----
    Template("compare_and", "logic", r => {
      val a = value(r, 0, 300); val (op, key) = pick(r, Comparisons); val c = pick(r, Gen.Codes)
      Expr(s"$$numeric_value $op $a and $$code == '$c'",
        s"{and: [{$key: [{column: numeric_value}, $a]}, " +
          s"{equal: [{column: code}, {literal: ${quote(c)}}]}]}",
        s"numeric_value $op ${a}D AND code = '$c'")
    }),
    Template("not_or", "logic", r => {
      val a = value(r, 0, 300); val k = 1 + r.nextInt(Gen.Subjects)
      Expr(s"not ($$numeric_value >= $a) or $$subject_id < $k",
        s"{or: [{not: [{greater_than_or_equal: [{column: numeric_value}, $a]}]}, " +
          s"{less_than: [{column: subject_id}, $k]}]}",
        s"NOT (numeric_value >= ${a}D) OR subject_id < $k")
    }),
    // ---- conditional ----
    Template("cond_else", "conditional", r => {
      val a = value(r, 0, 300)
      val Seq(hi, lo) = r.shuffle(Seq("high", "low", "normal", "abnormal")).take(2)
      Expr(s"'$hi' if $$numeric_value > $a else '$lo'",
        s"{conditional: {when: {greater_than: [{column: numeric_value}, $a]}, " +
          s"then: {literal: $hi}, otherwise: {literal: $lo}}}",
        s"CASE WHEN numeric_value > ${a}D THEN '$hi' ELSE '$lo' END")
    }),
    Template("cond_no_else", "conditional", r => {
      val a = value(r, 0, 300)
      Expr(s"$$numeric_value if $$numeric_value > $a",
        s"{conditional: {when: {greater_than: [{column: numeric_value}, $a]}, " +
          "then: {column: numeric_value}}}",
        s"CASE WHEN numeric_value > ${a}D THEN numeric_value END")
    }),
    Template("coalesce", "conditional", r => {
      val a = value(r, 0, 300)
      Expr(s"$$numeric_value ?? $a", s"{coalesce: [{column: numeric_value}, $a]}",
        s"coalesce(numeric_value, ${a}D)")
    }),
    // ---- strings ----
    Template("len_chars", "string", r => {
      val c = pick(r, Seq("code", "text_value"))
      Expr(s"len_chars($$$c)", s"{len_chars: [{column: $c}]}", s"length($c)")
    }),
    Template("substring", "string", r => {
      val i = r.nextInt(4); val j = i + 1 + r.nextInt(8)
      Expr(s"$$code[$i:$j]",
        s"{substring: {source: {column: code}, start: $i, stop: $j}}",
        s"substr(code, ${i + 1}, ${j - i})")
    }),
    Template("substring_tail", "string", r => {
      val n = 2 + r.nextInt(5)
      Expr(s"$$code[-$n:]", s"{substring: {source: {column: code}, start: -$n}}",
        s"right(code, $n)")
    }),
    Template("fstring", "string", r => {
      val sep = pick(r, Seq("#", "-", ":", "_", "/"))
      Expr("f\"{$code}" + sep + "{$subject_id}\"",
        s"{string_interpolate: [{literal: ${quote("{}" + sep + "{}")}}, " +
          "{column: code}, {column: subject_id}]}",
        s"concat(code, '$sep', CAST(subject_id AS STRING))")
    }),
    Template("concat", "string", r => {
      val sep = pick(r, Seq("#", "-", "_", "|"))
      Expr(s"$$code + '$sep' + $$text_value",
        s"{add: [{column: code}, {literal: ${quote(sep)}}, {column: text_value}]}",
        s"concat(code, '$sep', text_value)")
    }),
    Template("split", "string", r => {
      val (c, sep) = pick(r, Seq(("code", "//"), ("text_value", "/")))
      Expr(s"split($$$c, '$sep')",
        s"{split: {source: {column: $c}, by: {literal: ${quote(sep)}}}}",
        s"split($c, '$sep')")
    }),
    // ---- regex ----
    Template("regex_match", "regex", r => {
      val p = pick(r, Seq("^LAB", "^VITAL", "^DX", "GLUCOSE$", "[0-9]$", "E[0-9]+"))
      Expr(s"/$p/ in $$code",
        s"{regex_match: {pattern: {literal: ${quote(p)}}, source: {column: code}}}",
        s"code RLIKE '$p'")
    }),
    Template("regex_extract", "regex", r => {
      val p = pick(r, Seq("[A-Z]+$", "^[A-Z]+", "[0-9]+"))
      Expr(s"extract /$p/ from $$code",
        s"{regex_extract: {pattern: {literal: ${quote(p)}}, source: {column: code}}}",
        s"CASE WHEN code RLIKE '$p' THEN regexp_extract(code, '$p', 0) END")
    }),
    // systolic / diastolic out of "120/80"
    Template("regex_group", "regex", r => {
      val p = "^([0-9]+)[^0-9]([0-9]+)$"; val g = 1 + r.nextInt(2)
      Expr(s"(extract group $g of /$p/ from $$text_value)::?int32",
        s"{cast: {source: {regex_extract: {pattern: {literal: ${quote(p)}}, " +
          s"source: {column: text_value}, group_index: $g}}, type: {literal: int32}, strict: false}}",
        s"try_cast(CASE WHEN text_value RLIKE '$p' THEN regexp_extract(text_value, '$p', $g) END AS INT)")
    }),
    // ---- cast ----
    Template("cast", "cast", r => {
      val (src, ty, strict, sql) = pick(r, Seq(
        ("subject_id", "str", true, "CAST(subject_id AS STRING)"),
        ("subject_id", "int32", true, "CAST(subject_id AS INT)"),
        ("numeric_value", "int64", true, "CAST(numeric_value AS BIGINT)"),
        ("text_value", "float64", false, "try_cast(text_value AS DOUBLE)")))
      Expr(s"$$$src::${if (strict) "" else "?"}$ty",
        s"{cast: {source: {column: $src}, type: {literal: $ty}, strict: $strict}}", sql)
    }),
    // ---- datetime / duration ----
    Template("dt_part", "datetime", r => {
      val (acc, key, sql) = pick(r, Seq(
        ("year_of_date", "dt_year", "year(time)"),
        ("month_of_year", "dt_month_of_year", "month(time)"),
        ("day_of_month", "dt_day_of_month", "dayofmonth(time)"),
        ("day_of_week", "dt_day_of_week", "extract(DAYOFWEEK_ISO FROM time)"),
        ("day_of_year", "dt_day_of_year", "dayofyear(time)"),
        ("hour_of_day", "dt_hour_of_day", "hour(time)"),
        ("minute_of_hour", "dt_minute_of_hour", "minute(time)"),
        ("second_of_minute", "dt_second_of_minute", "second(time)"),
        ("week_of_year", "dt_week_of_year", "weekofyear(time)"),
        ("quarter_of_year", "dt_quarter_of_year", "quarter(time)")))
      Expr(s"$$time::$acc", s"{$key: [{column: time}]}", sql)
    }),
    Template("dt_total", "duration", r => {
      val base = s"${2000 + r.nextInt(15)}-01-01 00:00:00"
      val (unit, sqlUnit) = pick(r, Seq(
        ("days", "DAY"), ("hours", "HOUR"), ("minutes", "MINUTE"), ("seconds", "SECOND")))
      Expr(s"($$time - $base)::total_$unit",
        s"{dt_total_$unit: [{subtract: [{column: time}, ${quote(base)}]}]}",
        s"timestampdiff($sqlUnit, TIMESTAMP_NTZ '$base', time)")
    }),
    Template("dt_add", "duration", r => {
      val k = 1 + r.nextInt(30)
      val (unit, interval) = pick(r, Seq(
        ("days", s"'$k' DAY"), ("hours", s"'$k' HOUR"),
        ("minutes", s"'$k' MINUTE"), ("weeks", s"'${7 * k}' DAY")))
      Expr(s"$$time + $k::$unit",
        s"{add: [{column: time}, {cast: [$k, {literal: $unit}]}]}",
        s"time + INTERVAL $interval")
    }),
    Template("set_time", "datetime", r => {
      val h = r.nextInt(24); val m = r.nextInt(60)
      val hm = String.format(Locale.ROOT, "%02d:%02d", Int.box(h), Int.box(m))
      Expr(s"($$time::date) @ $hm",
        s"{set_time: [{cast: [{column: time}, {literal: date}]}, ${quote(hm)}]}",
        s"CAST(CAST(time AS DATE) AS TIMESTAMP_NTZ) + make_dt_interval(0, $h, $m, 0)")
    }),
    // ---- strptime ----
    Template("strptime", "strptime", r => {
      if (r.nextBoolean())
        Expr("($time::str)::\"%Y-%m-%d %H:%M:%S\"",
          s"{strptime: {format: {literal: ${quote("%Y-%m-%d %H:%M:%S")}}, " +
            "source: {cast: [{column: time}, {literal: str}]}}}",
          "CAST(CAST(time AS STRING) AS TIMESTAMP_NTZ)")
      else
        Expr("(($time::str)[0:10])::\"%Y-%m-%d\"",
          s"{strptime: {format: {literal: ${quote("%Y-%m-%d")}}, source: {substring: " +
            "{source: {cast: [{column: time}, {literal: str}]}, start: 0, stop: 10}}}}",
          "CAST(time AS DATE)")
    })
  )

  val byName: Map[String, Template] = all.map(t => t.name -> t).toMap

  /** A drawn op-map entry: output name, which form it is written in, the
    * expression and the template it came from.
    */
  final case class Entry(name: String, dictForm: Boolean, expr: Expr, template: String) {
    def yamlValue: String = if (dictForm) expr.dict else quote(expr.str)
  }

  def yaml(entries: Seq[Entry]): String =
    entries.map(e => s"${e.name}: ${e.yamlValue}\n").mkString
}
