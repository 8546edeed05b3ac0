package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQueries
import graft.anonymise.Anonymiser
import graft.config.{GraftConfig, RetainAll}
import graft.dialect.Dialect
import graft.export.{DumpWriter, ExportPipeline, Subset, SubsetSource}
import graft.ops.{OpCaches, Sampling}
import graft.sources.ParquetSource
import perfbench.DumpCheck.Tally

/** What one run shares with its workload. `inputs` holds what
  * `Prepare` wrote; `work` is for the run's own outputs; `inputsTag`
  * names the inputs (seed and scale, or fixture) in reference files.
  */
final class Ctx(val spark: SparkSession, val work: File, val inputs: File, val seed: Long,
                val inputsTag: String, val corrupt: Boolean, val tracer: Tracer,
                val counters: SparkCounters, val references: File) {
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  /** A result that must not change across iterations, nor across runs
    * on the same inputs in one build: the first value seen is kept, in
    * memory and (unless corrupting on purpose) in `references`.
    */
  private val seen = scala.collection.mutable.Map.empty[String, String]
  def stable(key: String, value: String): Option[String] = {
    val file = new File(references, s"$key-$inputsTag.txt")
    val ref = seen.getOrElseUpdate(key,
      if (file.exists()) new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
      else {
        if (!corrupt) {
          references.mkdirs()
          java.nio.file.Files.write(file.toPath, value.getBytes("UTF-8"))
        }
        value
      })
    if (ref == value) None else Some(s"$key changed: $value vs reference $ref")
  }
}

/** `rows` is the work the iteration produced; `problems` lists every
  * check that failed (empty = correct).
  */
final case class Outcome(rows: Long, problems: Seq[String])

trait Workload {
  /** Program work done once before the first iteration. */
  def setup(): Unit = ()
  /** The timed work; returns the rows it produced. */
  def iterate(i: Int): Long
  /** Checks of iteration `i`'s output, outside its time. Returns the
    * checks that failed.
    */
  def verify(i: Int): Seq[String]
  /** Traced runs only, after a traced iteration and outside its time:
    * separate calls that split the iteration's cost by layer. Returns
    * the checks that failed.
    */
  def probe(i: Int): Seq[String] = Nil
  /** Per-layer values of traced iteration `i` (its probe included). */
  def layers(i: Int): Map[String, Double]
  /** Release what an iteration cached; outside the iteration's time. */
  def release(): Unit = OpCaches.releaseAll()
}

object Workload {
  val names: Seq[String] = Seq("export_full", "corpus")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "export_full" => new ExportFull(ctx, ExportInputs(ctx.inputs, ctx.seed))
    case "corpus"      => new Corpus(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }

  /** Writes a workload's inputs and expected outputs into `inputs`:
    * generated at scale `sf`, or taken from the fixture directory `from`.
    */
  def prepare(name: String, inputs: File, seed: Long, sf: Double, from: Option[File],
              threads: Int): Unit = name match {
    case "export_full" => ExportInputs(inputs, seed).prepare(sf, from, threads)
    case "corpus"      => Corpus.prepare(inputs, seed, sf, from, threads)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  val DumpTimestamp: () => String = () => "2024-01-01T00:00:00Z"

  def delete(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }
}

/** Expected outputs, one `name rows keySum numSum` line each, written
  * by `Prepare` and read by the measured JVM.
  */
object Expected {
  def write(file: File, tallies: Seq[(String, Tally)]): Unit =
    java.nio.file.Files.write(file.toPath, tallies.map { case (n, t) =>
      s"$n\t${t.rows}\t${t.keySum}\t${t.numSum}" }.mkString("", "\n", "\n").getBytes("UTF-8"))

  def read(file: File): Map[String, Tally] =
    scala.io.Source.fromFile(file, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      f(0) -> Tally(f(1).toLong, f(2).toLong, BigDecimal(f(3)))
    }.toMap

  /** Rows of a parquet file, from its footer. */
  def rows(file: File): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(file.toPath))
    try r.getRecordCount finally r.close()
  }
}

/** The export's database and seeded config under `dir`, and what the
  * export must produce. `prepare` writes them; the rest reads them.
  */
final case class ExportInputs(dir: File, seed: Long) {
  val dataDir: String = new File(dir, "data").getPath
  val configPath: String = new File(dir, "graft.yaml").getPath
  private val expectedFile = new File(dir, "expected.tsv")
  private val rnd = new scala.util.Random(seed)
  private def cut(): java.time.Instant =
    java.time.Instant.ofEpochSecond(Inputs.Epoch1995 + 86400L * (30 + rnd.nextInt(30)))
  private val ordersCut = cut()
  private val shipCut = cut()
  private val eventsFrac = 0.78 + rnd.nextDouble() * 0.04
  private val nameRule = Seq("name", "username", "company")(rnd.nextInt(3))
  private val segmentRule = Seq("REDACTED", "null")(rnd.nextInt(2))

  val truncated: Set[String] = Set("embeddings")
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** (key column, numeric column) per table the config leaves unmasked;
    * events keeps an unordered LIMIT, so only its count is defined.
    */
  val sums: Map[String, (String, Option[String])] = Map(
    "region" -> ("r_regionkey", None),
    "nation" -> ("n_nationkey", Some("n_regionkey")),
    "customer" -> ("c_custkey", Some("c_nationkey")),
    "supplier" -> ("s_suppkey", Some("s_acctbal")),
    "part" -> ("p_partkey", Some("p_retailprice")),
    "orders" -> ("o_orderkey", Some("o_totalprice")),
    "lineitem" -> ("l_orderkey", Some("l_extendedprice")),
    "documents" -> ("doc_id", Some("n_chars")))

  /** One rule per masked column: every value in the dump must pass it. */
  val masking: Seq[DumpCheck.Rule] = Seq(
    DumpCheck.Rule("customer", "c_name", s"faker.$nameRule values",
      v => v != "NULL" && !v.startsWith("'Customer#")),
    DumpCheck.Rule("supplier", "s_name", "faker.company values",
      v => v != "NULL" && !v.startsWith("'Supplier#")),
    DumpCheck.Rule("customer", "c_acctbal", "NULL", _ == "NULL"),
    if (segmentRule == "null") DumpCheck.Rule("customer", "c_mktsegment", "NULL", _ == "NULL")
    else DumpCheck.Rule("customer", "c_mktsegment", s"'$segmentRule'", _ == s"'$segmentRule'"),
    DumpCheck.Rule("events", "props", "NULL", _ == "NULL"))

  private def iso(t: java.time.Instant) = t.toString.stripSuffix("Z").replace('T', ' ')

  def configYaml(eventsKept: Long): String =
    s"""connection:
       |  type: mysql
       |  host: localhost
       |  port: 3306
       |  username: bench
       |  password: bench
       |  database_name: bench
       |configuration:
       |  customer:
       |    columns:
       |      c_name: "{{faker.$nameRule}}"
       |      c_mktsegment: $segmentRule
       |      c_acctbal: null
       |  supplier:
       |    columns:
       |      s_name: "{{faker.company}}"
       |  orders:
       |    retain:
       |      column_name: o_orderdate
       |      after_date: "${iso(ordersCut)}"
       |  lineitem:
       |    retain:
       |      column_name: l_shipdate
       |      after_date: "${iso(shipCut)}"
       |  events:
       |    retain: $eventsKept
       |    columns:
       |      props: null
       |  embeddings:
       |    truncate: true
       |""".stripMargin

  private def parquet(t: String) = new File(dataDir, s"$t.parquet")

  /** Write the database (generated at `sf`, or copied from `from`), the
    * config and the expected outputs.
    */
  def prepare(sf: Double, from: Option[File], threads: Int): Unit = {
    new File(dataDir).mkdirs()
    from match {
      case Some(d) => tables.foreach(t =>
        java.nio.file.Files.copy(new File(d, s"$t.parquet").toPath, parquet(t).toPath))
      case None =>
        val z = Inputs.Sizes(sf)
        Inputs.write(dataDir, Inputs.relational(seed, z) ++ Inputs.corpus(seed, z, keepPct = 100),
          threads)
    }
    val events = Expected.rows(parquet("events"))
    val eventsKept = math.max(1L, math.round(events * eventsFrac))
    java.nio.file.Files.write(new File(configPath).toPath, configYaml(eventsKept).getBytes("UTF-8"))
    val exported = tables.filterNot(truncated).flatMap { t =>
      sums.get(t) match {
        case Some((k, num)) => summarise(t, k, num)
        case None => Seq(t -> Tally(math.min(eventsKept, events), 0L, BigDecimal(0)))
      }
    }
    Expected.write(expectedFile, exported)
  }

  /** Tally of a table's parquet rows with the config's date cut-off
    * applied, and for lineitem also of all its rows (`lineitem.all`).
    */
  private def summarise(t: String, key: String, num: Option[String]): Seq[(String, Tally)] = {
    val cutoff = t match {
      case "orders"   => Some(("o_orderdate", ordersCut))
      case "lineitem" => Some(("l_shipdate", shipCut))
      case _          => None
    }
    // (rows, key sum, numeric sum) of the kept rows, then of all rows
    val n, keys = Array(0L, 0L)
    val nums = Array(BigDecimal(0), BigDecimal(0))
    Inputs.foreachRow(parquet(t)) { g =>
      val s = g.getType
      val kept = cutoff.forall { case (c, at) =>
        Inputs.value(g, s.getFieldIndex(c)).asInstanceOf[Long] > at.getEpochSecond * 1000000L }
      val k = Inputs.value(g, s.getFieldIndex(key)) match { case i: Int => i.toLong; case l: Long => l }
      val v = num.map(c => Inputs.value(g, s.getFieldIndex(c)) match {
        case d: Double => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        case i: Int    => BigDecimal(i)
        case l: Long   => BigDecimal(l)
        case _         => BigDecimal(0)
      }).getOrElse(BigDecimal(0))
      for (j <- 0 to 1 if kept || j == 1) {
        n(j) += 1
        keys(j) += k
        nums(j) += v
      }
    }
    (t -> Tally(n(0), keys(0), nums(0))) +:
      (if (t == "lineitem") Seq("lineitem.all" -> Tally(n(1), keys(1), nums(1))) else Nil)
  }

  private lazy val all = Expected.read(expectedFile)
  /** Per exported table, the tally the dump must have. */
  lazy val expected: Map[String, Tally] = all - "lineitem.all"
  /** All lineitem rows, before retain. */
  lazy val lineitemAll: Tally = all("lineitem.all")
  lazy val expectedRows: Long = expected.values.map(_.rows).sum

  /** Check one finished export. `full`: it must hold exactly the
    * expected tallies; otherwise (a subset) only its own counts, the
    * masking and the set of tables are checked.
    */
  def checkDump(stats: graft.export.DumpStats, w: TimingWriter, file: File,
                full: Boolean): Seq[String] = {
    val p = Seq.newBuilder[String]
    if (full && stats.rowsExported != expectedRows)
      p += s"rowsExported ${stats.rowsExported} != expected $expectedRows"
    if (w.tuples != stats.rowsExported)
      p += s"dump holds ${w.tuples} tuples, DumpStats says ${stats.rowsExported}"
    if (w.creates != tables.size) p += s"dump holds ${w.creates} CREATE TABLE, expected ${tables.size}"
    if (stats.tablesTruncated != truncated.size)
      p += s"${stats.tablesTruncated} tables truncated, expected ${truncated.size}"
    if (file.length != w.bytesWritten) p += s"file has ${file.length} bytes, sink wrote ${w.bytesWritten}"
    val (tallies, masking) = DumpCheck(file, sums, this.masking)
    p ++= masking
    if (full) for (t <- (expected.keySet ++ tallies.keySet).toSeq.sorted) {
      val got = tallies.getOrElse(t, Tally(0, 0, BigDecimal(0)))
      val want = expected.getOrElse(t, Tally(0, 0, BigDecimal(0)))
      if (got != want) p += s"$t in the dump: $got, expected $want"
    } else tallies.keySet.diff(expected.keySet).foreach(t => p += s"$t has tuples but is not exported")
    p.result()
  }
}

/** The export calls of a run: the timed export and the layer probes. */
final class Exporter(ctx: Ctx, in: ExportInputs) {
  /** Export through the timing sink; fills the sink's layer values. */
  def exportTo(source: graft.sources.Source, cfg: GraftConfig, file: File,
               layer: scala.collection.mutable.Map[String, Double],
               span: String = "export.run"): (graft.export.DumpStats, TimingWriter) = {
    val w = new TimingWriter(file, ctx.corrupt)
    val stats =
      try ctx.span(span) {
        ExportPipeline.run(source, cfg, Dialect.forName(cfg.connection.dbType), w,
          timestamp = Workload.DumpTimestamp)
      } finally w.close()
    layer("export.sink_io_s") = w.ioNs / 1e9
    layer("export.sink_writes") = w.writes.toDouble
    layer("export.bytes_written") = w.bytesWritten.toDouble
    (stats, w)
  }

  /** Layer probes: introspection + topo sort, then per exported table a
    * noop-materialised scan, scan + anonymise, scan + anonymise + render.
    */
  def probe(source: graft.sources.Source, cfg: GraftConfig): Unit = {
    val plan = ctx.span("export.plan")(ExportPipeline.plan(source, cfg))
    val dialect = Dialect.forName(cfg.connection.dbType)
    for (p <- plan if !p.config.exists(_.truncate)) {
      val scan = source.scan(p.meta.name, p.config.map(_.retain).getOrElse(RetainAll))
      val anon = p.config.map(tc => Anonymiser(scan, tc)).getOrElse(scan)
      ctx.span("probe.scan")(noop(scan))
      ctx.span("probe.anonymise")(noop(anon))
      ctx.span("probe.render")(noop(DumpWriter.renderTuples(anon, dialect).toDF()))
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Probe spans → layer self times: each probe's cost minus the
    * cost of the stage below it.
    */
  def probeLayers(i: Int): Map[String, Double] = {
    val t = (n: String) => ctx.tracer.seconds(i, n)
    Map(
      "export.plan_s" -> t("export.plan"),
      "sources.scan_s" -> t("probe.scan"),
      "anonymise.apply_s" -> (t("probe.anonymise") - t("probe.scan")),
      "dialect.render_s" -> (t("probe.render") - t("probe.anonymise")))
  }

  def exportLayers(i: Int, layer: collection.Map[String, Double]): Map[String, Double] = {
    val run = ctx.tracer.ofIter(i).filter(_.name == "export.run")
    layer.toMap ++ probeLayers(i) ++ Map(
      "config.load_s" -> ctx.tracer.seconds(i, "config.load"),
      "export.run_s" -> ctx.tracer.seconds(i, "export.run"),
      "export.driver_only_s" -> run.map(s => ctx.counters.idleMs(s.startMs, s.endMs)).sum / 1e3)
  }
}

object ExportInputs {
  /** Tally of a frame: rows, key sum, numeric sum as decimal(18,2). */
  def summarise(df: DataFrame, key: String, num: Option[String]): Tally = {
    val zero = lit(0).cast("decimal(18,2)")
    val r = df.agg(count(lit(1)), coalesce(sum(col(key).cast("long")), lit(0L)),
      coalesce(sum(num.map(c => col(c).cast("decimal(18,2)")).getOrElse(zero)), zero)).head()
    Tally(r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)))
  }
}

/** `graft export`: load the config, export every table to one file. */
final class ExportFull(ctx: Ctx, in: ExportInputs) extends Workload {
  private val file = new File(ctx.work, "export.sql")
  private val layer = scala.collection.mutable.Map.empty[String, Double]
  private val ex = new Exporter(ctx, in)
  private var last: (graft.export.DumpStats, TimingWriter) = _

  def iterate(i: Int): Long = {
    val cfg = ctx.span("config.load")(GraftConfig.load(in.configPath))
    last = ex.exportTo(ParquetSource(ctx.spark, in.dataDir), cfg, file, layer)
    last._2.tuples
  }

  def verify(i: Int): Seq[String] = in.checkDump(last._1, last._2, file, full = true)

  private val roundTrip = new RoundTrip(ctx, in)
  private val subset = new SubsetPath(ctx, in, ex)

  override def probe(i: Int): Seq[String] = {
    val cfg = GraftConfig.load(in.configPath)
    ex.probe(ParquetSource(ctx.spark, in.dataDir), cfg)
    roundTrip.run(file, layer) ++ subset.run(cfg)
  }

  def layers(i: Int): Map[String, Double] =
    ex.exportLayers(i, layer) ++ roundTrip.layers(i) ++ subset.layers(i)
}

/** The `graft subset` path, run in export_full's traced probes: FK
  * closure of a seeded 10 of 100 order buckets, the orphan audit, then
  * the export over the closed subset.
  */
final class SubsetPath(ctx: Ctx, in: ExportInputs, ex: Exporter) {
  private val file = new File(ctx.work, "subset.sql")
  private val buckets = new scala.util.Random(ctx.seed).shuffle((0 until 100).toList).take(10).sorted
  private var keptFrac = 0.0

  def run(cfg: GraftConfig): Seq[String] = {
    val base = ParquetSource(ctx.spark, in.dataDir)
    val fks = base.foreignKeys
    val tables = base.tables.map(t => t -> base.read(t)).toMap
    val inSample = Sampling.bucket(col("o_orderkey"), 100).isin(buckets: _*)
    val (kept, orphans) = ctx.span("export.subset_audit") {
      val closed = Subset.closure(tables, fks, "orders", inSample)
      // self-test: one lineitem whose order is outside the sample
      val k = if (!ctx.corrupt) closed
        else closed.updated("lineitem", closed("lineitem").unionByName(
          tables("lineitem").join(tables("orders").filter(!inSample).select("o_orderkey").limit(1),
            col("l_orderkey") === col("o_orderkey"), "left_semi").limit(1)))
      (k, Subset.orphanCounts(k, fks))
    }
    val (stats, w) = ex.exportTo(new SubsetSource(base, kept), cfg, file,
      scala.collection.mutable.Map.empty, "probe.subset_export")
    val problems = Seq.newBuilder[String]
    orphans.filter(_._2 != 0).foreach { case (t, n) => problems += s"$n orphan rows in $t" }
    if (stats.rowsExported <= 0 || stats.rowsExported >= in.expectedRows)
      problems += s"subset exported ${stats.rowsExported} of ${in.expectedRows} rows"
    problems ++= in.checkDump(stats, w, file, full = false)
    problems ++= ctx.stable("subset_rows", stats.rowsExported.toString)
    keptFrac = stats.rowsExported.toDouble / in.expectedRows
    problems.result()
  }

  def layers(i: Int): Map[String, Double] = Map(
    "export.subset_audit_s" -> ctx.tracer.seconds(i, "export.subset_audit"),
    "export.subset_kept_frac" -> keptFrac)
}

/** The catalog's training-data keys over a seeded ~90% document and
  * vector sample.
  */
final class Corpus(ctx: Ctx) extends Workload {
  private val dir = new File(ctx.inputs, "corpus").getPath
  private var inputRows = 0L
  private val results = scala.collection.mutable.Map.empty[String, Array[org.apache.spark.sql.Row]]

  override def setup(): Unit =
    inputRows = Expected.read(new File(ctx.inputs, "expected.tsv")).values.map(_.rows).sum

  def iterate(i: Int): Long = {
    results.clear()
    for (k <- Corpus.keys)
      results(k) = ctx.span(s"ops.$k")(GraftQueries.all(k)(ctx.spark, dir).collect())
    inputRows
  }

  def verify(i: Int): Seq[String] = Corpus.keys.flatMap { k =>
    val shown = results(k).map(_.toString).sorted
    // self-test: drop one result row after the first iteration
    val out = if (ctx.corrupt && i > 0) shown.drop(1) else shown
    if (i == 0) System.err.println(s"[perfbench] $k: ${out.length} result rows")
    (if (out.isEmpty) Seq(s"$k returned no rows") else Nil) ++
      ctx.stable(k, s"${out.length}:${Workload.sha(out.mkString("\n"))}")
  }

  def layers(i: Int): Map[String, Double] =
    Corpus.keys.map(k => s"ops.${k}_s" -> ctx.tracer.seconds(i, s"ops.$k")).toMap
}

object Corpus {
  val keys: Seq[String] = Seq("p1_pipeline", "p2_pipeline", "p3_ingest_pipeline",
    "d2_minhash_lsh", "d4_ngram_jaccard", "d7_dup_clusters", "s1_knn_brute", "d5_embedding_dups")

  /** Write the ~90% sample of documents and embeddings (generated at
    * `sf`, or sampled from `from`) and their row counts.
    */
  def prepare(inputs: File, seed: Long, sf: Double, from: Option[File], threads: Int): Unit = {
    val dir = new File(inputs, "corpus")
    dir.mkdirs()
    from match {
      case Some(d) =>
        for ((t, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id"))
          Inputs.copySample(new File(d, s"$t.parquet"), new File(dir, s"$t.parquet"), id,
            Inputs.sampled(seed, Inputs.SampleSalt(t), keepPct = 90))
      case None =>
        Inputs.write(dir.getPath, Inputs.corpus(seed, Inputs.Sizes(sf), keepPct = 90), threads)
    }
    Expected.write(new File(inputs, "expected.tsv"), Seq("documents", "embeddings").map(t =>
      t -> Tally(Expected.rows(new File(dir, s"$t.parquet")), 0L, BigDecimal(0))))
  }
}

/** The dump read path, run in export_full's traced probes: every table
  * of the iteration's dump read back through the SQL-dump source and
  * reconciled with parquet; lineitem written through the parallel dump
  * sink and read back.
  */
final class RoundTrip(ctx: Ctx, in: ExportInputs) {
  private val parDir = new File(ctx.work, "parallel")
  private val lineCols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
    "l_returnflag", "l_shipdate")
  private def lineitem = ctx.spark.read.parquet(s"${in.dataDir}/lineitem.parquet")

  private def readDump(path: String, table: String): DataFrame =
    ctx.spark.read.format("graft.sources.SqlDumpSource").option("table", table).load(path)

  def run(dump: File, layer: scala.collection.mutable.Map[String, Double]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    var rows = 0L
    ctx.span("sources.sqldump_read") {
      for ((t, want) <- in.expected.toSeq.sortBy(_._1)) {
        val got = in.sums.get(t) match {
          case Some((k, num)) => ExportInputs.summarise(readDump(dump.getPath, t), k, num)
          case None => Tally(readDump(dump.getPath, t).count(), 0L, BigDecimal(0))
        }
        if (got != want) problems += s"$t read back from the dump as $got, parquet has $want"
        rows += got.rows
      }
    }
    layer("sources.sqldump_splits") = in.expected.keys.toSeq
      .map(t => readDump(dump.getPath, t).rdd.getNumPartitions).sum.toDouble
    // each table's scan reads the whole file
    layer("sources.sqldump_bytes_per_row") = in.expected.size.toDouble * dump.length / rows
    Workload.delete(parDir)
    ctx.span("export.parallel_write") {
      lineitem.select(lineCols.map(col): _*)
        .write.format("graft.sources.SqlDumpSource").option("table", "lineitem")
        .mode("append").save(parDir.getPath)
    }
    if (ctx.corrupt) dropOneTuple(parDir)
    val back = ctx.span("sources.sqldump_read") {
      ExportInputs.summarise(readDump(parDir.getPath, "lineitem"), "l_orderkey", Some("l_extendedprice"))
    }
    if (back != in.lineitemAll) problems += s"parallel lineitem read back as $back, parquet has ${in.lineitemAll}"
    Workload.delete(parDir)
    problems.result()
  }

  def layers(i: Int): Map[String, Double] = Map(
    "sources.sqldump_read_s" -> ctx.tracer.seconds(i, "sources.sqldump_read"),
    "export.parallel_write_s" -> ctx.tracer.seconds(i, "export.parallel_write"))

  private def dropOneTuple(dir: File): Unit = {
    val f = dir.listFiles().filter(_.getName.endsWith(".sql")).minBy(_.getName)
    val lines = new java.util.ArrayList(java.nio.file.Files.readAllLines(f.toPath))
    val at = (0 until lines.size).find(j => lines.get(j).startsWith("(") && lines.get(j).endsWith("),"))
    at.foreach(j => lines.remove(j))
    java.nio.file.Files.write(f.toPath, lines)
  }
}
