/* Derived-scale generator for the r13 sf1 SCALING run:
 * `runMain graft.ScaleUp <srcSfDir> <outDir> [factor]` replicates the
 * driver's sf0.1 tables `factor`× (default 10) with key-shifted copies,
 * so a full-suite Bench at ~sf1 can smoke out super-linear engine terms
 * (the class of bug q280's oracle-side CTE blowup proved live) WITHOUT
 * synthesizing new distributions — every copy is the driver's own data
 * under shifted keys, so value distributions, basket sizes, text and
 * embedding geometry are preserved. NOT for correctness runs: the
 * oracle contract stays on the driver's own parquet.
 *
 * Copy rules: surrogate keys shift by copy·10⁷ (far above every sf0.1
 * key), preserving referential integrity within a copy; region/nation
 * (fixed dimensions) and small foreign keys into them stay unshifted;
 * event/order timestamps stay put (time density grows factor×, as a
 * year of 10× traffic would); document text gets a per-copy suffix
 * token so cross-copy docs are NEAR-duplicates (LSH-pair volume grows
 * linearly — factor·(factor−1)/2 sibling pairs per doc — instead of
 * the degenerate all-exact-dup corpus plain copying would make);
 * embeddings copy exactly (ANN ties break deterministically by id).
 * Bounded-contract slices (`vec_id < 10` probes, `< 64` codebook
 * seeds) keep their size: only copy 0 falls below the thresholds. */
package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object ScaleUp {
  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1 && factor <= 100, s"factor out of [1,100]: $factor")
    val spark = Session()

    val copies = spark.range(factor).select(col("id").as("_c"))

    // Cross-join each table with the copy spine, shift the named keys.
    def scaled(table: String, keyCols: Seq[String]): DataFrame = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      keyCols.foldLeft(df.crossJoin(broadcast(copies))) { (acc, k) =>
        acc.withColumn(k, col(k) + col("_c") * Off)
      }
    }
    def write(table: String, df: DataFrame): Unit = {
      df.drop("_c")
        .repartition(16)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"SCALED $table")
    }

    // Fixed dimensions: straight copies (the TPC-H contract).
    Seq("region", "nation").foreach { t =>
      write(t, spark.read.parquet(s"$src/$t.parquet"))
    }
    write("customer", scaled("customer", Seq("c_custkey")))
    write("supplier", scaled("supplier", Seq("s_suppkey")))
    write("part", scaled("part", Seq("p_partkey")))
    write("orders", scaled("orders", Seq("o_orderkey", "o_custkey")))
    write("lineitem",
      scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", scaled("events", Seq("event_id", "user_id")))
    write("documents",
      scaled("documents", Seq("doc_id"))
        .withColumn("text",
          when(col("_c") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" xc"), col("_c"))))
        .withColumn("n_chars", length(col("text")).cast("long")))
    write("embeddings", scaled("embeddings", Seq("vec_id")))
    spark.stop()
  }
}
