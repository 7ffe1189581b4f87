package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Small shared helpers: sessions, clocks, statistics, files, JSON. */
object Common {

  /** Cores of every timed run: the whole host, never more (local[n], one
    * process). */
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** A fresh local session configured like the engine's own entry point
    * (graft.Main.serve) deployed on an n-core host: shuffle width 2n (the
    * `shuffle_partitions` setting), UTC, the chmod-free local file system;
    * scratch dirs stay inside `work`. */
  def session(work: String, n: Int = cores,
              conf: Map[String, String] = Map.empty): SparkSession = {
    val s = conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * n).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.lake.BareLocalFileSystem].getName)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Process CPU seconds (all threads: local-mode executors included). */
  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def procField(file: String, key: String): Option[Long] = {
    val p = Paths.get(file)
    if (!Files.isReadable(p)) None
    else Files.readAllLines(p).asScala.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong)
  }
  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb: Double =
    procField("/proc/self/status", "VmHWM").map(_ / 1024.0).getOrElse(0.0)
  def memTotalMb: Long =
    procField("/proc/meminfo", "MemTotal").map(_ / 1024).getOrElse(0L)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p))
      graft.lake.LakeTable.listDir(p)(_.toSeq).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator.asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Re-point the absolute data-file paths of every manifest under a
    * copied lake table (a table records absolute paths). */
  def rebaseManifests(from: String, to: String): Unit = {
    val meta = Paths.get(to, "_meta")
    graft.lake.LakeTable.listDir(meta)(_.toSeq).foreach { m =>
      val txt = Files.readString(m)
      Files.writeString(m, txt.replace(from, to))
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Maps, sequences, options, strings, numbers and booleans as JSON. */
  def json(v: Any): String = mapper.writeValueAsString(v)
}
