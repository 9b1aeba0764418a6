package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional SPARK_GRAFT_ONLY prefix filter (e.g. "q20,q32,s03c") for
    // scale-assurance spot checks at SFs where the full quadratic-oracle
    // sweep is infeasible; absent → the driver's full run, unchanged.
    val only = SparkEntry.only(SparkEntry.queries.keys)
    val selected = SparkEntry.queries.filter { case (name, _) => only(name) }
    val spark = LocalSession() // the parquet dumps go through graft.io.LocalFs
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    // Self-checking gate (round-12 lesson: CORRECTNESS_r12.json shipped
    // as {} with no complaint from this side — a partial or empty
    // outDir must now fail LOUDLY instead of letting the driver's
    // compare silently record nothing). n_dumped counts committed
    // parquet result dirs (a _SUCCESS marker — a dir that exists but
    // whose write died midway doesn't count); the oracle file must be
    // non-trivial JSON. On a full (unfiltered) run the dump count must
    // equal the registry size exactly. The one-line summary goes to
    // stdout LAST so the driver's tail capture can't miss it.
    val nDumped = selected.keys.count { name =>
      Files.exists(Paths.get(s"$outDir/$name/_SUCCESS"))
    }
    val nOracles = SparkEntry.oracleSql.size
    val oracleBytes = Files.size(Paths.get(s"$outDir/oracle_sql.json"))
    val fullRun = !sys.env.contains("SPARK_GRAFT_ONLY")
    val ok = nFailed == 0 && oracleBytes > 2 &&
      nDumped == selected.size &&
      (!fullRun || nDumped == SparkEntry.queries.size)
    println(s"""{"verify_gate":"${if (ok) "ok" else "FAIL"}",""" +
      s""""n_selected":${selected.size},"n_dumped":$nDumped,""" +
      s""""n_failed":$nFailed,"n_oracles":$nOracles,""" +
      s""""oracle_bytes":$oracleBytes,"full_run":$fullRun}""")
    if (!ok) {
      System.err.println(s"[verify] GATE FAILED: dumped $nDumped of " +
        s"${selected.size} selected (registry ${SparkEntry.queries.size}, " +
        s"failed $nFailed, oracle_sql.json $oracleBytes bytes)")
      sys.exit(1)
    }
  }
}
