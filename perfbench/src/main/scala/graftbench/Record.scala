package graftbench

import java.io.File
import java.nio.file.{Files, StandardOpenOption}

import scala.util.control.NonFatal

import graft.{Engine, SparkEntry}
import graft.operators.Checkpoints

/** Records the expected output of registry queries: row count and
  * digest, one JSON line per query, plus each result as parquet and the
  * registry's oracle SQL so record.py can cross-check against DuckDB.
  *
  * Usage: Harness record <cores> <dataDir> <out.jsonl> <dumpDir> [query...]
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(cores, data, out, dump) = args.take(4)
    val names = if (args.length > 4) args.drop(4).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Engine.localSession(cores.toInt, "graft-perfbench-record")
    new File(dump).mkdirs()
    def release(): Unit = Checkpoints.releaseQueryScoped(spark)
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val j = new Json
      try {
        val (rows, digest) = Digest.of(fn(spark, data)); release()
        fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name"); release()
        System.gc()
        j.obj { o => o.str("name", name); o.num("rows", rows.toDouble); o.str("digest", digest) }
      } catch { case NonFatal(e) =>
        release()
        j.obj { o => o.str("name", name); o.str("error", Harness.describe(e)) }
      }
      Files.writeString(new File(out).toPath, j.result + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } finally {
      val oracle = new Json
      oracle.obj { o => SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => o.str(k, v) } }
      Files.writeString(new File(dump, "oracle_sql.json").toPath, oracle.result)
      spark.stop()
    }
  }
}
