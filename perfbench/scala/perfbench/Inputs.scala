package perfbench

import java.io.File

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Seeded synthetic inputs with the fixture schema (TPC-H-like star,
  * events, documents, embeddings), written as one parquet file per table
  * like the fixtures. Every value is a hash of (seed, column, row id), so
  * one seed always gives the same tables. `sf` scales row counts like the
  * fixtures': sf 0.1 gives 600,000 lineitem rows.
  *
  * Generation runs outside Spark, in a JVM of its own before the
  * measured one starts (`Prepare`), so the first Spark job of a run is
  * the workload's own cold iteration, as in a CLI invocation. Timestamps
  * are written like the fixtures': micros, not adjusted to UTC.
  */
object Inputs {

  final case class Sizes(sf: Double) {
    private def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val customer: Long = n(150000)
    val supplier: Long = n(10000)
    val part: Long = n(200000)
    val orders: Long = n(1500000)
    val lineitem: Long = orders * 4
    val events: Long = n(1000000)
    val documents: Long = math.max(40L, n(50000))
    val embeddings: Long = math.max(200L, n(20000))
  }

  /** A table: parquet schema and a fresh row iterator per call. Values
    * are Int, Long (timestamps as UTC micros), Double, String or
    * Array[Float], in schema order.
    */
  final case class Table(name: String, schema: String, rows: () => Iterator[Array[Any]])

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def h(seed: Long, salt: Int, a: Long, b: Long = 0): Long =
    mix(mix(mix(seed * 1000003L + salt) ^ a) ^ b)

  private def mod(x: Long, n: Long): Long = java.lang.Math.floorMod(x, n)
  private def unit(x: Long): Double = mod(x, 1000000L) / 1e6
  private def pick(values: IndexedSeq[String], x: Long): String = values(mod(x, values.size).toInt)
  private def money(lo: Double, span: Double, x: Long): Double =
    math.round((lo + unit(x) * span) * 100) / 100.0

  /** 1995-01-01T00:00:00Z in seconds. */
  val Epoch1995 = 788918400L
  val OrderDays = 2400
  private val Day = 86400L * 1000000L

  private def ids(n: Long): Iterator[Long] = Iterator.range(0, n.toInt).map(_.toLong)

  private def msg(name: String, fields: String*): String =
    fields.map(f => s"  optional $f" + (if (f.endsWith("}")) "" else ";"))
      .mkString(s"message $name {\n", "\n", "\n}")

  private val Str = "binary %s (STRING)"
  private val Ts = "int64 %s (TIMESTAMP(MICROS,false))"

  /** region, nation, customer, supplier, part, orders, lineitem, events. */
  def relational(seed: Long, z: Sizes): Seq[Table] = Seq(
    Table("region", msg("region", "int32 r_regionkey", Str.format("r_name")), () =>
      ids(5).map(id => Array[Any](id.toInt,
        IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(id.toInt)))),
    Table("nation", msg("nation", "int32 n_nationkey", Str.format("n_name"), "int32 n_regionkey"),
      () => ids(25).map(id => Array[Any](id.toInt, s"NATION_$id", (id % 5).toInt))),
    Table("customer", msg("customer", "int64 c_custkey", Str.format("c_name"), "int32 c_nationkey",
        "double c_acctbal", Str.format("c_mktsegment")), () =>
      ids(z.customer).map(id => Array[Any](id, f"Customer#$id%09d", mod(h(seed, 1, id), 25).toInt,
        money(-999.99, 10999.98, h(seed, 2, id)),
        pick(IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
          h(seed, 3, id))))),
    Table("supplier", msg("supplier", "int64 s_suppkey", Str.format("s_name"), "int32 s_nationkey",
        "double s_acctbal"), () =>
      ids(z.supplier).map(id => Array[Any](id, f"Supplier#$id%09d", mod(h(seed, 4, id), 25).toInt,
        money(-999.99, 10999.98, h(seed, 5, id))))),
    Table("part", msg("part", "int64 p_partkey", Str.format("p_name"), Str.format("p_brand"),
        Str.format("p_type"), "int32 p_size", "double p_retailprice"), () =>
      ids(z.part).map(id => Array[Any](id,
        pick(IndexedSeq("large", "hot", "blue", "small", "red", "dark"), h(seed, 6, id)) + " " +
          pick(IndexedSeq("ring", "bolt", "nut", "gear", "pipe", "valve"), h(seed, 7, id)),
        s"Brand#${mod(h(seed, 8, id), 25) + 1}",
        pick(IndexedSeq("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"), h(seed, 9, id)),
        (mod(h(seed, 10, id), 50) + 1).toInt, 900.0 + (id % 1000) / 10.0))),
    Table("orders", msg("orders", "int64 o_orderkey", "int64 o_custkey", Str.format("o_orderstatus"),
        "double o_totalprice", Ts.format("o_orderdate"), Str.format("o_orderpriority")), () =>
      ids(z.orders).map(id => Array[Any](id, mod(h(seed, 11, id), z.customer),
        pick(IndexedSeq("O", "F", "P"), h(seed, 12, id)), money(850.0, 450000.0, h(seed, 13, id)),
        Epoch1995 * 1000000L + mod(h(seed, 14, id), OrderDays) * Day,
        pick(IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          h(seed, 15, id))))),
    Table("lineitem", msg("lineitem", "int64 l_orderkey", "int64 l_partkey", "int64 l_suppkey",
        "int32 l_linenumber", "double l_quantity", "double l_extendedprice", "double l_discount",
        "double l_tax", Str.format("l_returnflag"), Str.format("l_linestatus"),
        Ts.format("l_shipdate")), () =>
      ids(z.lineitem).map(id => Array[Any](id / 4, mod(h(seed, 16, id), z.part),
        mod(h(seed, 17, id), z.supplier), (id % 4 + 1).toInt, (mod(h(seed, 18, id), 50) + 1).toDouble,
        money(900.0, 100000.0, h(seed, 19, id)), mod(h(seed, 20, id), 11) / 100.0,
        mod(h(seed, 21, id), 9) / 100.0, pick(IndexedSeq("R", "A", "N"), h(seed, 22, id)),
        pick(IndexedSeq("O", "F"), h(seed, 23, id)),
        Epoch1995 * 1000000L + mod(h(seed, 24, id), OrderDays + 100) * Day))),
    Table("events", msg("events", "int64 event_id", Ts.format("ts"), "int64 user_id",
        Str.format("event_type"), "double value", Str.format("props")), () =>
      ids(z.events).map(id => Array[Any](id,
        1704067200000000L + mod(h(seed, 25, id), 30 * Day), mod(h(seed, 26, id), z.customer),
        pick(IndexedSeq("view", "click", "signup", "purchase", "error"), h(seed, 27, id)),
        money(0.0, 500.0, h(seed, 28, id)), s"""{"k": ${mod(h(seed, 29, id), 100)}}"""))))

  private val Vocab = IndexedSeq("a", "the", "of", "and", "batch", "part", "spark", "line",
    "column", "order", "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "merge", "data",
    "vector", "customer", "join")

  /** documents and embeddings, kept where the seeded sample hash falls
    * below `keepPct`. One document in 20 copies an earlier one (exactly
    * or with its last word changed) and one vector in 100 is a near-copy
    * of an earlier one, so near-duplicate operators find pairs.
    */
  def corpus(seed: Long, z: Sizes, keepPct: Int): Seq[Table] = {
    def kept(table: String)(id: Long) = sampled(seed, SampleSalt(table), keepPct)(id)
    def text(id: Long): String = {
      // ids ≡ 19 (mod 20) copy one of the ten ids before them, none of which is a copy
      val dup = id % 20 == 19
      val base = if (dup) id - 1 - mod(h(seed, 30, id), 10) else id
      val n = (mod(h(seed, 31, base), 90) + 8).toInt
      val bump = if (dup && mod(h(seed, 32, id), 2) == 1) 1 else 0
      (1 to n).map(i => Vocab(mod(h(seed, 33, base, i) + (if (i == n) bump else 0), Vocab.size).toInt))
        .mkString(" ")
    }
    def lang(id: Long): String = {
      val x = mod(h(seed, 34, id), 100)
      if (x < 40) "en" else if (x < 55) "de" else if (x < 70) "fr" else if (x < 85) "es" else "zh"
    }
    // like the fixture's: independent random unit vectors with labels
    // not clustered, except that ids ≡ 99 (mod 100) are near-copies
    // (cosine ≈ 0.99) of one of the 20 ids before them, so d5 finds
    // pairs on every sample, however small
    def vector(id: Long): (Array[Float], Int) = {
      val copy = id % 100 == 99
      val base = if (copy) id - 1 - mod(h(seed, 37, id), 20) else id
      val raw = Array.tabulate(64)(j => unit(h(seed, 40, base, j)) - 0.5 +
        (if (copy) (unit(h(seed, 41, id, j)) - 0.5) * 0.1 else 0.0))
      val norm = math.sqrt(raw.map(x => x * x).sum)
      (raw.map(x => (x / norm).toFloat), mod(h(seed, 38, id), 10).toInt)
    }
    Seq(
      Table("documents", msg("documents", "int64 doc_id", Str.format("text"), Str.format("lang"),
          Str.format("source"), "int64 n_chars"), () =>
        ids(z.documents).filter(kept("documents")).map { id =>
          val t = text(id)
          Array[Any](id, t, lang(id), s"src${mod(h(seed, 36, id), 20)}", t.length.toLong)
        }),
      Table("embeddings", msg("embeddings", "int64 vec_id",
          "group embedding (LIST) {\n    repeated group list {\n      optional float element;\n    }\n  }",
          "int32 label"), () =>
        ids(z.embeddings).filter(kept("embeddings")).map { id =>
          val (v, label) = vector(id)
          Array[Any](id, v, label)
        }))
  }

  /** Whether row `id` of a corpus table is in the seeded sample. */
  def sampled(seed: Long, salt: Int, keepPct: Int)(id: Long): Boolean =
    mod(h(seed, salt, id), 100) < keepPct

  val SampleSalt: Map[String, Int] = Map("documents" -> 35, "embeddings" -> 42)

  /** Calls `f` on every row of a parquet file. */
  def foreachRow(file: File)(f: Group => Unit): Unit = {
    val reader = ParquetFileReader.open(new LocalInputFile(file.toPath))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(schema)
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(schema))
        var n = 0L
        while (n < pages.getRowCount) { f(records.read()); n += 1 }
        pages = reader.readNextRowGroup()
      }
    } finally reader.close()
  }

  /** Field `i` of a row as Int, Long, Double, Float or String; null if unset. */
  def value(g: Group, i: Int): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else g.getType.getType(i).asPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32  => g.getInteger(i, 0)
      case PrimitiveTypeName.INT64  => g.getLong(i, 0)
      case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
      case PrimitiveTypeName.FLOAT  => g.getFloat(i, 0)
      case _                        => g.getString(i, 0)
    }

  /** Copy the rows of `from` whose long field `idField` passes `keep` to `to`. */
  def copySample(from: File, to: File, idField: String, keep: Long => Boolean): Unit = {
    val schema: MessageType = {
      val r = ParquetFileReader.open(new LocalInputFile(from.toPath))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val id = schema.getFieldIndex(idField)
    val out = ExampleParquetWriter.builder(new LocalOutputFile(to.toPath)).withType(schema).build()
    try foreachRow(from)(g => if (keep(g.getLong(id, 0))) out.write(g))
    finally out.close()
  }

  /** Write `tables` as `dir/<name>.parquet`, `threads` tables at a time. */
  def write(dir: String, tables: Seq[Table], threads: Int): Unit = {
    new File(dir).mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tables.map(t => pool.submit(new Runnable { def run(): Unit = writeOne(dir, t) }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  private def writeOne(dir: String, t: Table): Unit = {
    val schema = MessageTypeParser.parseMessageType(t.schema)
    val names = (0 until schema.getFieldCount).map(schema.getFieldName)
    val groups = new SimpleGroupFactory(schema)
    val out = ExampleParquetWriter
      .builder(new LocalOutputFile(new File(dir, s"${t.name}.parquet").toPath))
      .withType(schema).build()
    try for (row <- t.rows()) {
      val g = groups.newGroup()
      var i = 0
      while (i < row.length) {
        row(i) match {
          case v: Int          => g.append(names(i), v)
          case v: Long         => g.append(names(i), v)
          case v: Double       => g.append(names(i), v)
          case v: String       => g.append(names(i), v)
          case v: Array[Float] =>
            val list = g.addGroup(names(i))
            v.foreach(x => list.addGroup("list").append("element", x))
        }
        i += 1
      }
      out.write(g)
    } finally out.close()
  }
}
