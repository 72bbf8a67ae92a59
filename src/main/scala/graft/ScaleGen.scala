package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixture scaler for scale-curve benchmarking (VERDICT round-3 item 8):
  * replicates a fixture directory `factor`× into independent key-shifted
  * shards, so a larger SF point can be measured without a driver-side
  * generator.
  *
  * Shard construction preserves what the bench measures:
  *  - every foreign-key domain shifts by the same base across tables
  *    (orders.o_custkey, customer.c_custkey AND events.user_id — all in
  *    the custkey domain — move together), so join selectivities and
  *    fan-outs are unchanged per shard;
  *  - embeddings rotate cyclically per shard (shard 0 verbatim):
  *    intra-shard dot products are exactly preserved, but shards are not
  *    bit-copies, so ANN candidate volume grows linearly, not
  *    quadratically in identical copies;
  *  - document text gets a per-shard word prefix (shard 0 verbatim), so
  *    the shingle/bigram vocabularies of shards are disjoint — dedup and
  *    Jaccard blocks stay shard-local and the workload scales like more
  *    DATA, not like 10 exact copies of every document (which would
  *    quadratically inflate candidate pairs and measure a pathology);
  *  - dimension tables (region/nation) stay fixed, as they would at any
  *    real scale factor;
  *  - `events.ts` is read as raw ns longs and written as plain int64 —
  *    `Tables.events` converts either encoding identically.
  *
  * Quadratic-by-design queries (brute-force cosine baseline) still scale
  * super-linearly because both their query set and corpus grow — that is
  * the expected curve, documented in SCALE.md.
  *
  * Usage: ScaleGen <srcDir> <outDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = LocalSession()

    def load(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    // one shift base per key DOMAIN, from the domain's owning table, so
    // referencing columns in other tables shift consistently
    def base(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custS = base(load("customer"), "c_custkey")
    val suppS = base(load("supplier"), "s_suppkey")
    val partS = base(load("part"), "p_partkey")
    val orderS = base(load("orders"), "o_orderkey")

    def shards(df: DataFrame, shifts: Map[String, Long],
               perShard: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(i * s)) }
        perShard(shifted, i)
      }.reduce(_ unionAll _)

    save(load("region"), "region")
    save(load("nation"), "nation")
    save(shards(load("customer"), Map("c_custkey" -> custS)), "customer")
    save(shards(load("supplier"), Map("s_suppkey" -> suppS)), "supplier")
    save(shards(load("part"), Map("p_partkey" -> partS)), "part")
    save(shards(load("orders"),
      Map("o_orderkey" -> orderS, "o_custkey" -> custS)), "orders")
    save(shards(load("lineitem"),
      Map("l_orderkey" -> orderS, "l_suppkey" -> suppS, "l_partkey" -> partS)),
      "lineitem")

    val ev = load("events")
    // user_id lives in the CUSTKEY domain (the as-of/funnel joins are
    // `o_custkey = user_id`), so it must shift by custS — shifting by its
    // own max would park every shard's events inside shard 0's custkey
    // range and break per-shard join selectivity
    save(shards(ev, Map(
      "event_id" -> base(ev, "event_id"), "user_id" -> custS)),
      "events")

    val docs = load("documents")
    save(shards(docs, Map("doc_id" -> base(docs, "doc_id")), (d, i) =>
      if (i == 0) d
      else d
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), w => concat(lit(s"r$i"), w))))
        .withColumn("n_chars", length(col("text")))), "documents")

    // embeddings: cyclically rotate each vector by the shard index
    // (shard 0 verbatim). Rotation preserves norms and pairwise dot
    // products WITHIN a shard — each shard keeps the fixture's exact
    // neighbor geometry — while shards stop being bit-copies of each
    // other, so LSH/IVF buckets don't fill with factor-many identical
    // vectors (the exact-copy pathology that would grow ANN candidate
    // volume quadratically instead of linearly).
    val emb = load("embeddings")
    val dim = 64
    save(shards(emb, Map("vec_id" -> base(emb, "vec_id")), (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding", concat(
        slice(col("embedding"), i + 1, dim - i),
        slice(col("embedding"), 1, i)))), "embeddings")

    println(s"scaled $src -> $out x$factor")
    spark.stop()
  }
}
