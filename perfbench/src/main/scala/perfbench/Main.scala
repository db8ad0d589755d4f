package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, hash, max, struct}

import graft.SparkEntry
import graft.sources.Tables

/** Benchmark runner. `run.py` builds it, prepares the inputs and starts
  * one JVM per run:
  *
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1 ...
  *
  * Closed loop, one client thread: one query or one stream drain is in
  * flight at a time. The run writes a result file whose `metrics` are the
  * end-to-end metrics (untraced) or the per-layer metrics (traced).
  *
  * Two helper modes feed the committed inputs: `oracle` dumps
  * `SparkEntry.oracleSql` for the DuckDB count script, and `classify`
  * lists the tables each query's analyzed plan scans.
  */
object Main {

  final class Opts(args: Array[String]) {
    private val kv: Map[String, String] =
      args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode: String = args.headOption.getOrElse("run")
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String, d: Int): Int = kv.get(k).map(_.toInt).getOrElse(d)
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    // Bench's setting: time the production sketch plans, not the
    // exact-verification twins the correctness gate runs.
    sys.props("graft.verify.exact") = "false"
    o.mode match {
      case "run" => Run(o).execute()
      case "oracle" => dumpOracle(o("out"))
      case "classify" => classify(o)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  def session(cpus: Int, work: String, indexRoot: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.graft.indexRoot", indexRoot)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoint")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Bench's codegen warm-up: compiler, shuffle join, window, decimal sum. */
  def warmCodegen(s: SparkSession): Unit = {
    s.range(1000).selectExpr("sum(id)").collect()
    val a = s.range(2000).selectExpr("id", "id % 7 AS k")
    s.range(200).selectExpr("id AS k2").join(a, col("k") === col("k2"))
      .selectExpr("sum(cast(id as decimal(18,6)))").collect()
    a.selectExpr("sum(id) over (partition by k order by id) AS r")
      .agg(max(col("r"))).collect()
    ()
  }

  /** Bench's per-table warm: every column goes through the decoder. */
  def warmTable(s: SparkSession, dir: String, t: String): Unit = {
    val df = Tables.load(s, dir, t)
    df.select(hash(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(max(col("h"))).collect()
    ()
  }

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  /** A fixed pure-JVM loop, timed at the start and end of every run, so
    * a slower host can be told apart from a slower engine.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    if (acc == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  def localFile(path: String): File =
    new File(new java.net.URI(if (path.contains(":")) path else "file:" + path).getPath)

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def dataFiles(f: File): Seq[File] =
    if (!f.exists()) Seq.empty
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty)
    else Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }

  def readLines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  def writeFile(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), text.getBytes(UTF_8)); ()
  }

  def dumpOracle(out: String): Unit =
    writeFile(out, Json.write(SparkEntry.oracleSql))

  /** The tables (and index files) each query's analyzed plan reads. */
  def classify(o: Opts): Unit = {
    val work = o("work")
    val s = session(o.int("cpus", 2), work, s"$work/index")
    val dir = o("data")
    val out = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val paths = fn(s, dir).queryExecution.analyzed.collectLeaves().flatMap {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        case _: org.apache.spark.sql.execution.LogicalRDD => Seq("checkpointed-rdd")
        case _ => Nil
      }
      val reads = paths.map { p =>
        val n = new org.apache.hadoop.fs.Path(p).getName
        if (p.contains("/index/")) "index" else n.stripSuffix(".parquet")
      }.distinct.sorted
      name -> reads
    }
    writeFile(o("out"), out.map { case (n, r) => s"$n\t${r.mkString(",")}" }
      .mkString("", "\n", "\n"))
    stop(s)
  }
}

/** The index families `SparkEntry.ensureIndexes` builds, in call order,
  * with the directory each one writes.
  */
object IndexFamilies {
  import graft.ext.{Dedup, Quantization, Retrieval, Similarity, TextAnalysis}
  val names: Seq[String] = Seq("ivf", "ivf-even", "pq", "bm25", "minhash",
    "minhash-eval", "dsir", "contain", "simhash", "lines")
  def paths(dir: String): Seq[(String, String)] = names.zip(Seq(
    Similarity.ivfIndexPathFor(dir), Similarity.ivfIndexPathFor(dir) + "-even",
    Quantization.pqIndexPathFor(dir), Retrieval.bm25IndexPathFor(dir),
    Dedup.minhashIndexPathFor(dir), Dedup.minhashEvalIndexPathFor(dir),
    TextAnalysis.dsirIndexPathFor(dir), Dedup.containIndexPathFor(dir),
    Dedup.simhashIndexPathFor(dir), TextAnalysis.lineIndexPathFor(dir)))

  /** Per-family build time from outside the engine: `ensureIndexes`
    * builds the families one after another, so each family ran from the
    * previous family's last file write (the first: from the call) to its
    * own last file write. Empty when the writes are not in call order.
    */
  def buildMs(dir: String, startMs: Double): Map[String, Double] = {
    def newest(f: File): Long =
      if (f.isFile) f.lastModified()
      else Option(f.listFiles()).toSeq.flatten.map(newest).maxOption.getOrElse(0L)
    val ends = paths(dir).map { case (_, p) => newest(Main.localFile(p)).toDouble }
    val starts = startMs +: ends.init
    if (ends.zip(starts).exists { case (e, s) => e < s }) Map.empty
    else names.zip(ends.zip(starts).map { case (e, s) => e - s }).toMap
  }
}
