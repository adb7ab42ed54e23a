package perfbench

import org.apache.spark.sql.SparkSession

/** What a result must carry to be compared with another: machine
  * size and load, software versions, seed and workload. run.py adds
  * the source revision and the input-data digest.
  */
object Context {
  def loadavg: String = scala.util.Try(
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(",")).getOrElse("")

  def apply(spark: SparkSession, a: Harness.Args, loadStart: String): Map[String, Any] =
    Map("nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> a.cores,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "seed" -> a.seed, "workload" -> a.workload, "traced" -> a.trace)
}

/** Expected digests, one `name<TAB>sha256` line per query. */
object Expected {
  def load(path: String): Map[String, String] =
    if (path.isEmpty) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.split("\t")).collect { case Array(n, sha) => n -> sha }.toMap
}
