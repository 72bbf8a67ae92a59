package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioning strategies for the 100 TB regime (builder-prompt scale
  * checklist: broadcast bounded dims, salting for skew, bucketing for
  * co-located joins).
  *
  * None of these change results — they change *plans*. Each has a test
  * asserting result-equality with the naive formulation plus the plan
  * property it exists for (`PartitioningSpec`).
  */
object Partitioning {

  /** Salted equi-join for skewed keys: the large (skewed) side gets a random
    * salt in [0, salts); the small side is replicated `salts` times; the
    * join key becomes (key, salt), splitting a hot key's rows across
    * `salts` reducers. AQE's skew-join handles moderate skew at runtime —
    * explicit salting is for the pathological keys AQE cannot split (single
    * key larger than an executor).
    *
    * Join type: inner. Result equals `large.join(small, keys)` exactly.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val saltCol = (rand(seed = 42) * salts).cast("int")
    val saltedLarge = large.withColumn("__salt", saltCol)
    val saltedSmall = small
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    saltedLarge.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Write both sides bucketed + sorted on the join key so the join needs
    * no exchange at read time (co-located, sort-merge without shuffle).
    * Registers the bucketed data as catalog tables at `path`. */
  def writeBucketed(df: DataFrame, table: String, path: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** Join two previously-bucketed tables; with matching bucket counts the
    * physical plan contains no Exchange on either side. */
  def bucketedJoin(s: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    s.table(leftTable).join(s.table(rightTable), key)

  /** Hive-style partitioned layout: one directory per value of `part` —
    * the physical organization that makes partition pruning (static AND
    * dynamic) possible on the fact side. At 100 TB this is the
    * difference between scanning a day and scanning the lake. */
  def writePartitioned(df: DataFrame, path: String, part: String): Unit =
    df.write.mode("overwrite").partitionBy(part).parquet(path)

  /** Dynamic-partition-pruning join: the fact table is read from its
    * partitioned layout and joined on its PARTITION column to a dim
    * filtered on a non-partition attribute. The dim filter cannot be
    * statically pushed into the fact scan (its selectivity is only
    * known through the join), so Catalyst inserts a
    * DynamicPruningSubquery into the fact's partition filters: the dim
    * side runs first (it is broadcast anyway), its distinct join keys
    * become an IN-filter on the fact's PARTITION values, and pruned
    * partitions are never read — the fact-side scan cost is
    * proportional to the SELECTED partitions, not the table
    * (`PartitioningSpec` asserts both the pruning subquery in the plan
    * and result equality with the unpartitioned join). */
  def dppJoin(s: SparkSession, factPath: String, dim: DataFrame,
              key: String): DataFrame =
    graft.Tables.parquet(s, factPath).join(broadcast(dim), key)
}
