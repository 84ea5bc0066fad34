package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Command-line settings of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: File, data: File, out: File)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("data")), new File(need("out")))
  }
}

/** Everything a workload needs: the session, the run settings, the tracer
  * (inert unless `--trace 1`), and the metrics, checks and details that end
  * up in the artifact.
  */
final class RunContext(val args: Args, val spark: SparkSession, val cores: Int,
    val tracer: Tracer) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val details = mutable.LinkedHashMap.empty[String, Json.Value]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Record an output check; the caller counts the operation it belongs to
    * as failed when it does not hold.
    */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    ok
  }

  /** Run `body` under a Spark job group and (when tracing) a span of the
    * same name, so executor work and driver time land on one layer name.
    */
  def layer[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = Option(sc.getLocalProperty(ExecListener.JobGroupKey))
    sc.setJobGroup(name, name)
    try tracer.span(name)(body)
    finally prev match {
      case Some(g) => sc.setJobGroup(g, g)
      case None => sc.clearJobGroup()
    }
  }

  def dir(name: String): File = {
    val d = new File(args.work, name)
    d.mkdirs()
    d
  }
}

object RunContext {

  def session(args: Args, cores: Int): SparkSession = {
    val local = new File(args.work, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.configure(s)
  }

  /** The run settings every artifact records, so two runs can be checked
    * for identical settings before their numbers are compared.
    */
  def settings(ctx: RunContext): Json.Obj = Json.obj(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "cores" -> ctx.cores,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
    "java_version" -> System.getProperty("java.version"),
    "spark_version" -> ctx.spark.version,
    // without the per-run values (ids, start times, ports, paths)
    "spark_conf" -> Json.Obj(ctx.spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => Seq(".id", "Time", ".port", ".dir", ".host").exists(k.endsWith) }
      .map { case (k, v) => k -> Json.Str(v) }),
    "workload" -> ctx.args.workload,
    "seed" -> ctx.args.seed,
    "seconds" -> ctx.args.seconds,
    "trace" -> ctx.args.trace)

  /** Order-independent content checksum of a frame: row count plus the sum
    * of a 64-bit hash of every row. Map columns are hashed as their entries
    * sorted by key, so two frames with equal rows in any order and any map
    * entry order agree.
    */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.toSeq.sortBy(_.name).map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def canonical(c: Column, t: org.apache.spark.sql.types.DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _: ArrayType | _: StructType => to_json(c)
    case _ => c
  }
}
