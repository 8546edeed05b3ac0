package perfbench

import java.io.File

import scala.collection.mutable

/** Reads a MySQL-dialect export dump back after an iteration, outside
  * its time, and tallies per table what the checks compare: tuples, key
  * sum, numeric sum, and every value of a masked column against its
  * rule. It has a tuple reader of its own, so the check does not depend
  * on graft's dump reader.
  */
object DumpCheck {

  /** Tuples, sum of the key column, sum of the numeric column at scale 2. */
  final case class Tally(rows: Long, keySum: Long, numSum: BigDecimal)

  /** What every rendered value of a masked column must satisfy. */
  final case class Rule(table: String, column: String, what: String, ok: String => Boolean)

  /** Per-table tallies of `file` and the masking rules it breaks.
    * `sums` names each table's (key column, numeric column); tables
    * not in it are only counted.
    */
  def apply(file: File, sums: Map[String, (String, Option[String])],
            rules: Seq[Rule]): (Map[String, Tally], Seq[String]) = {
    val tallies = mutable.LinkedHashMap.empty[String, Tally]
    val broken = mutable.LinkedHashMap.empty[(String, String), (Long, String)]
    var table = ""
    var keyAt, numAt = -1
    var checks = Seq.empty[(Int, Rule)]
    var rows, keySum = 0L
    var numSum = BigDecimal(0)
    def flush(): Unit = if (table.nonEmpty) {
      val t = tallies.getOrElse(table, Tally(0, 0, BigDecimal(0)))
      tallies(table) = Tally(t.rows + rows, t.keySum + keySum, t.numSum + numSum)
      rows = 0; keySum = 0; numSum = BigDecimal(0)
    }
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(file), java.nio.charset.StandardCharsets.UTF_8), 1 << 20)
    var at = Array.emptyIntArray
    try {
      var line = in.readLine()
      while (line != null) {
        if (line.startsWith("INSERT INTO ")) {
          flush()
          table = line.substring(line.indexOf('`') + 1, line.indexOf('`', line.indexOf('`') + 1))
          val cols = line.substring(line.indexOf('(') + 1, line.lastIndexOf(')'))
            .split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toIndexedSeq
          at = new Array[Int](2 * cols.size)
          val (key, num) = sums.get(table).map { case (k, n) => (Some(k), n) }.getOrElse((None, None))
          keyAt = key.map(cols.indexOf).getOrElse(-1)
          numAt = num.map(cols.indexOf).getOrElse(-1)
          checks = rules.filter(_.table == table).map(r => cols.indexOf(r.column) -> r)
          checks.filter(_._1 < 0).foreach { case (_, r) => broken((table, r.column)) = (0L, "column missing") }
        } else if (line.startsWith("(") && table.nonEmpty) {
          if (bounds(line, at) != at.length / 2) throw new IllegalStateException(
            s"$table tuple has not ${at.length / 2} fields: $line")
          def field(j: Int) = line.substring(at(2 * j), at(2 * j + 1)).trim
          rows += 1
          if (keyAt >= 0) keySum += field(keyAt).toLong
          if (numAt >= 0) {
            val v = field(numAt)
            if (v != "NULL") numSum += BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          }
          for ((c, r) <- checks if c >= 0 && !r.ok(field(c))) {
            val (n, first) = broken.getOrElse((table, r.column), (0L, field(c)))
            broken((table, r.column)) = (n + 1, first)
          }
        }
        line = in.readLine()
      }
    } finally in.close()
    flush()
    val problems = broken.toSeq.map { case ((t, c), (n, first)) =>
      val what = rules.find(r => r.table == t && r.column == c).map(_.what).getOrElse("")
      s"$t.$c: $n values are not $what (first: $first)"
    }
    (tallies.toMap, problems)
  }

  /** Start and end of each rendered field of one tuple line
    * `(v1, 'v2', NULL),` into `at` (start of field j at 2j, end at 2j+1);
    * returns the number of fields (more than `at` holds if it is too small).
    */
  def bounds(line: String, at: Array[Int]): Int = {
    val end = line.lastIndexOf(')')
    var n = 0
    var start = 1
    var inString = false
    var i = 1
    while (i < end) {
      val c = line.charAt(i)
      if (inString) {
        if (c == '\\') i += 1
        else if (c == '\'') {
          if (i + 1 < end && line.charAt(i + 1) == '\'') i += 1 else inString = false
        }
      } else if (c == '\'') inString = true
      else if (c == ',') {
        if (2 * n + 1 >= at.length) return n + 2
        at(2 * n) = start
        at(2 * n + 1) = i
        n += 1
        start = i + 1
      }
      i += 1
    }
    if (2 * n + 1 >= at.length) return n + 2
    at(2 * n) = start
    at(2 * n + 1) = end
    n + 1
  }
}
