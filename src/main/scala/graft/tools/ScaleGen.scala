package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence data generator: builds a `factor`× copy of a driver
  * testdata scale factor (default: sf0.1 → sf1) by deterministic
  * key-shifted replication, so bench can measure one real decade of
  * scaling instead of arguing from plan shapes alone.
  *
  * Replication rules (replica r of `factor`, r = 0 is the original):
  *  - Dimensions `region`/`nation` are copied once — their cardinality
  *    is fixed at every TPC-H scale factor.
  *  - Fact/bridge keys shift by `r × (max(key)+1)` computed from the
  *    source, consistently on both sides of every FK (`o_custkey`
  *    shifts with `c_custkey`, `l_orderkey` with `o_orderkey`, …), so
  *    join fan-outs per key are IDENTICAL to the source and only the
  *    key-space grows.
  *  - `documents.text` (r > 0) prefixes every token with a replica tag
  *    (`zq3the quick…`): token counts, shingle counts and
  *    WITHIN-replica Jaccard/MinHash/SimHash structure are preserved
  *    exactly (planted near-dup pairs scale linearly with the corpus),
  *    while CROSS-replica shingle sets are disjoint — without this,
  *    every doc would be a 10-way clone and the dedup operators would
  *    measure a pathological 45×-pair corpus, not a bigger one.
  *  - `embeddings.embedding` (r > 0) gets a signed rotation (rotate
  *    by r mod dim, negate the first r div 64 coordinates): a signed
  *    permutation is orthonormal, so norms and within-replica cosines
  *    are preserved, and the transform is unique per replica up to
  *    factor 4096, so replicas never clone each other's vectors.
  *  - `events.ts` is passed through in whatever physical form it
  *    arrives: TIMESTAMP(NANOS) driver dirs are read as raw int64
  *    nanos (`nanosAsLong`) and re-written as plain longs; the
  *    current TIMESTAMP-µs (NTZ) driver dirs round-trip as µs
  *    timestamps. [[graft.sources.Tables]] normalizes every form to
  *    microsecond TimestampType on read, so generated dirs behave
  *    identically to driver dirs.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("localdata/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // validate BEFORE generating anything: factor <= 0 used to die
    // mid-run with an opaque empty.reduce, and factor > 4096 only hit
    // the embeddings closure's require AFTER the seven other tables
    // were fully written — leaving a 7/8-complete dir that downstream
    // benches on non-embedding tables would accept as valid
    require(factor >= 1 && factor <= 4096,
      s"factor must be in [1, 4096] (embedding rotation uniqueness bound), got $factor")
    // 8 shuffle partitions, not one per core: generated dirs (the
    // benchmark's data set among them) keep the layout they were first
    // written with
    val spark = graft.GraftSession.builder()
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, out, factor)
    spark.stop()
  }

  /** Generation body, separated from `main` so tests can drive it on a
    * shared session. Requires `spark.sql.legacy.parquet.nanosAsLong`
    * (events.ts arrives as TIMESTAMP(NANOS) in driver dirs). */
  def run(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      val n = spark.read.parquet(s"$out/$name.parquet").count()
      println(s"[scalegen] $name: $n rows")
    }
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).first().getLong(0) + 1L
    def replicate(df: DataFrame)(
        shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => shift(df, r)).reduce(_ unionAll _)

    val orders = read("orders")
    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val lineitem = read("lineitem")
    val events = read("events")
    val documents = read("documents")
    val embeddings = read("embeddings")

    val kOrd = stride(orders, "o_orderkey")
    val kCust = stride(customer, "c_custkey")
    val kSupp = stride(supplier, "s_suppkey")
    val kPart = stride(part, "p_partkey")
    val kEvt = stride(events, "event_id")
    val kUser = stride(events, "user_id")
    val kDoc = stride(documents, "doc_id")
    val kVec = stride(embeddings, "vec_id")

    write("region", read("region"))
    write("nation", read("nation"))
    write("customer", replicate(customer)((df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(r * kCust))))
    write("supplier", replicate(supplier)((df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * kSupp))))
    write("part", replicate(part)((df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * kPart))))
    write("orders", replicate(orders)((df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * kOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(r * kCust))))
    write("lineitem", replicate(lineitem)((df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * kOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(r * kPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * kSupp))))
    write("events", replicate(events)((df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * kEvt))
        .withColumn("user_id", col("user_id") + lit(r * kUser))))
    write("documents", replicate(documents) { (df, r) =>
      if (r == 0) df
      else df
        .withColumn("doc_id", col("doc_id") + lit(r * kDoc))
        .withColumn("text", expr(
          s"array_join(transform(split(text, ' '), x -> concat('zq$r', x)), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    write("embeddings", replicate(embeddings) { (df, r) =>
      if (r == 0) df
      else {
        // Signed rotation: rotate by r mod dim and negate the first
        // r div 64 coordinates. Both are orthonormal (signed
        // permutation), so norms and within-replica cosines are
        // preserved; the (rotation, negation-prefix) pair is unique
        // per replica up to factor 4096, so no two replicas carry
        // identical vectors (a bare `rotate by r` underflowed
        // slice() for r ≥ dim — factor 100 died here — and `r mod
        // dim` alone would clone replicas r and r+dim).
        require(r < 64 * 64,
          s"replica $r: signed-rotation space is 4096 transforms")
        df
          .withColumn("vec_id", col("vec_id") + lit(r * kVec))
          .withColumn("embedding", expr(
            s"""transform(
               |  concat(
               |    slice(embedding, pmod($r, size(embedding)) + 1,
               |          size(embedding) - pmod($r, size(embedding))),
               |    slice(embedding, 1, pmod($r, size(embedding)))),
               |  (x, i) -> IF(i < ${r / 64}, -x, x))""".stripMargin))
      }
    })
  }
}
