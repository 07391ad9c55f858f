package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.compact
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: run only the named queries (local iteration;
    // the driver always passes exactly two args and gets the full dump).
    val only = args.drop(2).toSet
    val spark = Session()
    // INT96 (the default) round-trips as ns through pyarrow and would
    // type-mismatch against DuckDB's us timestamps in the hash compare.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // The q295/q306 multimodal oracles replay the engine's UTF-8 byte
    // stream via per-CHARACTER ord()/length(); parity holds only while
    // the documents fixture is pure ASCII (code point == byte). Fail
    // loudly here — at verify time, once per dump, before any compare —
    // if the fixture ever gains a non-ASCII document.
    locally {
      import org.apache.spark.sql.functions.{col, length, octet_length}
      val nonAscii = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(octet_length(col("text")) =!= length(col("text")))
        .limit(1).count()
      require(nonAscii == 0,
        "documents fixture contains non-ASCII text: the q295/q306 " +
          "character-indexed oracle replays would silently diverge " +
          "from the engine's UTF-8 byte streams (OracleMultimodal)")
    }
    // The similarity family's cosine divisions (engine AND the DuckDB
    // oracle CTEs) assume every fixture embedding has a nonzero norm;
    // only the beam-search serve path pins 0/0 to 0.0, and the oracle
    // mirrors none of the guards. A zero-norm vector in a future
    // fixture would silently diverge engine vs oracle (NaN vs 0.0 vs
    // NULL), so assert the assumption loudly, once per dump.
    locally {
      import org.apache.spark.sql.functions.{col, expr}
      val zeroNorm = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(expr(
          "aggregate(embedding, 0.0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))") === 0.0)
        .limit(1).count()
      require(zeroNorm == 0,
        "embeddings fixture contains a zero-norm vector: the cosine " +
          "divisions in graft.ext.Similarity and the OracleSimilarity " +
          "CTEs would silently diverge (only the serve path guards 0/0)")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(json))
    spark.stop()
  }
}
