package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev command line, on the harness session ([[Session.fromEnv]]):
  *
  *  - `run [query ...] [sfDir]` — with no names, the
  *    [[SparkEntry.entry]] smoke check (rows > 0). For each named query, its
  *    rows and the wall time of a first and a second call plus full
  *    materialization: the first pays staging and memo builds, the second
  *    is warm. `sfDir` defaults to [[SparkEntry.entrySfDir]].
  *  - `plan query ...` — each query's formatted physical plan at
  *    [[SparkEntry.entrySfDir]].
  *  - `sql stmt ...` — each statement's result, with the graft SQL
  *    functions registered.
  *
  * Per-op jobs, stages, task time, shuffle bytes and streaming phase
  * durations come from the benchmark's traced run
  * (`python3 perfbench/run.py --trace 1`).
  */
object Dev {
  private val usage =
    "usage: graft.Dev run [query ...] [sfDir] | plan query ... | sql stmt ..."

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val spark = Session.fromEnv()
    try args.head match {
      case "run" => run(spark, args.tail.toSeq)
      case "plan" => args.tail.foreach { n =>
        println(s"===================== $n =====================")
        SparkEntry.queries(n)(spark, SparkEntry.entrySfDir).explain("formatted")
      }
      case "sql" =>
        functions.GraftFunctions.register(spark)
        args.tail.foreach(stmt => spark.sql(stmt).show(50, truncate = false))
      case other => throw new IllegalArgumentException(s"unknown subcommand '$other'; $usage")
    } finally spark.stop()
  }

  private def run(spark: SparkSession, rest: Seq[String]): Unit = {
    val (names, sfDir) = rest.lastOption match {
      case Some(last) if Files.isDirectory(Paths.get(last)) => (rest.init, last)
      case _ => (rest, SparkEntry.entrySfDir)
    }
    if (names.isEmpty) {
      val df = SparkEntry.entry(spark)
      val n = df.count()
      df.show(5, truncate = false)
      println(s"[dev] entry rows=$n " + (if (n > 0) "OK" else "EMPTY"))
    } else names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def timed(): (DataFrame, Double) = {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        (df, (System.nanoTime() - t0) / 1e9)
      }
      val first = timed()._2
      val (df, second) = timed()
      df.show(20, truncate = false)
      println(f"[dev] $name rows=${df.count()} first=$first%.2fs second=$second%.2fs")
    }
  }
}
