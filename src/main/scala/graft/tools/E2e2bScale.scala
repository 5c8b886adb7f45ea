package graft.tools

import java.nio.file.{Files, Paths}

/** Round-10 adjudication: run the e2e2b exact-mode composed pipeline at an
  * off-toy fixture bound (4,000 docs on sf0.1 vs the gate's 397 on sf0.01)
  * and dump result + oracle in the tools/check.py layout, so the SAME
  * DuckDB compare that gates the 397-doc form adjudicates the bigger one.
  *
  *   runMain graft.tools.E2e2bScale /root/testdata/sf0.1 /tmp/e2e2b4k 4000
  *   python3 tools/check.py /root/testdata/sf0.1 /tmp/e2e2b4k
  */
object E2e2bScale {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, boundS) = args.take(3)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val q = graft.queries.Text.e2e2b(boundS.toInt)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      s"{${esc(q.name)}: ${esc(q.oracle.get)}}")
    val t0 = System.nanoTime()
    q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/${q.name}")
    println(f"E2E2B bound=$boundS spark_wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
