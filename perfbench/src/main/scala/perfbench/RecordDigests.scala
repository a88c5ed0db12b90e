package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Re-records `data/catalog_digests.json` for the catalog_mix entries:
  * `perfbench.RecordDigests <data dir> <out dir>`.
  *
  * Writes each entry's output under `<out dir>/<entry>/` in the layout
  * `tools/check_oracle.py` reads, with the entries' oracle SQL in
  * `<out dir>/oracle_sql.json`, and prints the digests as JSON. Check
  * the output against DuckDB before saving the digests:
  * `python3 tools/check_oracle.py perfbench/data/sf0.01 <out dir>`. */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val data = Paths.get(args(0)).toAbsolutePath
    val out = args(1)
    val sf = CatalogMix.tables(data).toString
    val spark = graft.GraftSession.build(Runtime.getRuntime.availableProcessors().toString)
    val digests = CatalogMix.Mix.map { e =>
      val df = graft.SparkEntry.queries(e)(spark, sf)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$e")
      e -> Json.str(CatalogMix.digest(spark.read.parquet(s"$out/$e")))
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.write(Paths.get(out, "oracle_sql.json"), Json.obj(
      CatalogMix.Mix.map(e => e -> Json.str(oracle(e)))).getBytes(UTF_8))
    println(digests.map { case (e, d) => s" ${Json.str(e)}: $d" }.mkString("{\n", ",\n", "\n}"))
    spark.stop()
  }
}
