package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each gate's result → parquet, plus
  * oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg (dev-only): comma-separated query names to
    // dump — the driver's 2-arg invocation still dumps everything.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Set.empty[String])
      case Array(a, b, f) => (a, b, f.split(",").toSet)
    }
    val spark = GraftSession.local(GraftSession.envCpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.gates
      .filter(g => g.oracle.isDefined && (only.isEmpty || only(g.name)))
      .foreach { g =>
        try g.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${g.name}")
        catch { case e: Throwable =>
          System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
        }
      }
    // Json.str escapes every control char: a tab or CR in oracle SQL
    // would otherwise make the driver's json.load fail and silently
    // zero the round's correctness. The keys follow oracleSql's map
    // order, which keeps the file byte-comparable across changes that
    // reorder `gates`.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
