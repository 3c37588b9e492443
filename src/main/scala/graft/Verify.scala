package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), onlyNames) = args.splitAt(2)
    // optional extra args: run only the named queries (local iteration;
    // the driver always calls with exactly two)
    val only = onlyNames.toSet
    val spark = Harness.session()
    // scale-frontier mode for the declared-quadratic oracle twins: cap
    // documents/embeddings ids so the DuckDB side terminates at sf1
    // (pair with oracle_check.py --id-cap N; see Tables.IdCapConf)
    sys.env.get("SPARK_GRAFT_ID_CAP").foreach { c =>
      // loud, so a capped dump can never be mistaken for a full one
      System.err.println(s"[verify] ID CAP ACTIVE: documents/embeddings truncated to ids < $c " +
        "(scale-frontier mode for the quadratic oracle twins; pair with oracle_check --id-cap)")
      spark.conf.set(Tables.IdCapConf, c)
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.ops.Model.release()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
