package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes to run a subset
    // (local iteration only; the driver always passes 2 args = full run)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      def attempt(): Unit = fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      if (!selected(name)) ()
      else try attempt()
      catch { case e: Throwable =>
        // one visible retry: streaming micro-batch planning has a rare
        // transient race (an INTERNAL_ERROR NPE in
        // StreamingSymmetricHashJoinExec.copy, seen once in many full
        // runs) — without the retry a one-off race would cost the round
        // a correctness row; a genuine failure still surfaces because
        // the retry throws too
        System.err.println(s"[verify] $name failed: ${e.getMessage}; retrying")
        try attempt()
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name failed twice: ${e2.getMessage}")
        }
      }
    }
    // Jackson escapes quotes, backslashes and every control char, so a
    // tab or CR in oracle SQL still loads in scripts/check_correctness.py
    val mapper = new ObjectMapper()
    val json = mapper.createObjectNode()
    SparkEntry.oracleSqlFor(sfDir).foreach { case (k, v) => json.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), mapper.writeValueAsString(json))
    spark.stop()
  }
}
