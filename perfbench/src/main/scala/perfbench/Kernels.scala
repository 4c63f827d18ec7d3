package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Seeded synthetic probes of the `thrivespark.functions` kernels, called
  * through `call_function` as the ops call them. Each probe aggregates the
  * kernel's output over a cached input. The same query with the kernel call
  * replaced by a trivial expression over the same columns is the baseline:
  * the scan, the pairing and the aggregation around the kernel. A probe
  * reports (median kernel time − median baseline time) / units, so the
  * figure is the kernel's own cost per unit. */
object Kernels {
  final case class Result(name: String, nsPerUnit: Double, units: Long)

  private val Reps = 5

  def probe(spark: SparkSession, seed: Long): Seq[Result] = {
    thrivespark.functions.Register(spark)
    def h(j: Column, salt: Long): Column = xxhash64(col("id"), j, lit(seed), lit(salt))
    def longs(rows: Long, dim: Int, salt: Long, mod: Long): DataFrame =
      spark.range(rows).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)), j => pmod(h(j, salt), lit(mod))).as("v"))

    // Q×C brute force, the similarity keys' shape; units are multiply-adds
    val vq = cached(longs(500, 1024, 1, 1024).withColumnRenamed("v", "q"))
    val vc = cached(longs(500, 1024, 2, 1024).withColumnRenamed("v", "c")
      .withColumnRenamed("id", "cid"))
    val pairs = vq.crossJoin(vc)
    val dot = kernel("vec_dot_long", 500L * 500 * 1024,
      pairs.agg(sum(call_function("vec_dot_long", col("q"), col("c")))),
      pairs.agg(sum(element_at(col("q"), 1) * element_at(col("c"), 1))))

    // pre-hashed shingle sets, 64 per document; units are shingles
    val sh = cached(longs(50000, 64, 3, Long.MaxValue).withColumnRenamed("v", "s"))
    def shBase = sh.agg(sum(pmod(element_at(col("s"), 1), lit(1024L))))
    val minhash = kernel("minhash", 50000L * 64,
      sh.agg(sum(pmod(array_max(call_function("minhash_signature", col("s"))), lit(1024L)))),
      shBase)
    val simhash = kernel("simhash", 50000L * 64,
      sh.agg(sum(pmod(call_function("simhash64", col("s")), lit(1024L)))), shBase)

    // token arrays over a 31-word vocabulary, 50 per document; units are tokens
    val vocab = array((0 until 31).map(i => lit(s"w$i")): _*)
    val toks = cached(spark.range(25000).select(transform(sequence(lit(0), lit(49)),
      j => element_at(vocab, (pmod(h(j, 4), lit(31L)) + 1).cast("int"))).as("t")))
    val shingle = kernel("shingle", 25000L * 50,
      toks.agg(sum(size(call_function("shingle_hashes", col("t"))))),
      toks.agg(sum(size(col("t")))))

    Seq(vq, vc, sh, toks).foreach(_.unpersist(blocking = true))
    Seq(dot, minhash, simhash, shingle)
  }

  private def cached(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    c.count()
    c
  }

  /** Kernel and baseline queries timed in turn, after one untimed run of
    * each to compile their plans. Both are by-name: each run builds a new
    * DataFrame, because collecting the same one again would reuse its
    * finished shuffle stage and skip the kernel. */
  private def kernel(name: String, units: Long, query: => DataFrame,
      baseline: => DataFrame): Result = {
    def time(q: DataFrame): Double = {
      val t0 = System.nanoTime()
      q.collect()
      (System.nanoTime() - t0).toDouble
    }
    time(query)
    time(baseline)
    val (k, b) = (1 to Reps).map(_ => (time(query), time(baseline))).unzip
    System.err.println(f"[perfbench] kernel $name: ${Stats.median(k) / 1e6}%.1f ms, " +
      f"baseline ${Stats.median(b) / 1e6}%.1f ms, $units units")
    Result(name, (Stats.median(k) - Stats.median(b)) / units, units)
  }
}
