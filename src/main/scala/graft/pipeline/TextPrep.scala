package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text-preparation primitives for the training-data pipeline
  * operators (dedup, fingerprinting, language-ID), plus the DuckDB SQL
  * snippets that mirror them exactly — each declared query's oracle is
  * generated from the SAME constants, so Spark and DuckDB stay in
  * lockstep by construction.
  *
  * Cross-engine determinism:
  *   - `h32` is the first 8 hex chars of md5 parsed base-16 — a uniform
  *     32-bit hash both engines compute identically
  *     (Spark `conv(substring(md5(x),1,8),16,10)`,
  *     DuckDB `('0x' || substr(md5(x),1,8))::BIGINT`).
  *   - MinHash permutations `(a*h + b) % P` use a,h < 2^31, 2^32 so the
  *     product stays below 2^63: no 64-bit overflow on either engine,
  *     hence identical exact integer arithmetic.
  *
  * Scale notes: shingling explodes each document into ~L word 3-grams;
  * all downstream operators aggregate by doc_id or join by shingle —
  * both distribute over hash partitions with no driver-side state. The
  * 31-word testdata vocabulary makes single tokens non-discriminative,
  * which is exactly why every dedup operator shingles first.
  */
object TextPrep {

  /** Modulus for MinHash permutations: smallest prime > 2^32. */
  val MinHashP: Long = 4294967311L

  /** 16 fixed LCG-style (a, b) permutation constants, a,b < 2^31.
    * Values are arbitrary but FROZEN: they parameterize the declared
    * minhash queries and their oracles.
    */
  val MinHashAB: Vector[(Long, Long)] = Vector(
    (1103515245L, 12345L),
    (1664525L, 1013904223L),
    (22695477L, 1L),
    (69069L, 362437L),
    (48271L, 44488L),
    (16807L, 49297L),
    (214013L, 2531011L),
    (134775813L, 1L),
    (1099087573L, 12820163L),
    (32310901L, 626627237L),
    (29943829L, 1013904223L),
    (302875107L, 407688959L),
    (9301L, 49297L),
    (1203248318L, 574115441L),
    (141421356L, 271828182L),
    (27644437L, 115249L)
  )

  /** 32-bit md5-prefix hash of a string column (Spark side): the
    * native [[graft.functions.Md5Word32]] kernel — bit-identical to
    * `conv(substring(md5(c), 1, 8), 16, 10)` (pinned by
    * FunctionsSpec) without materializing and re-parsing the 32-char
    * hex string per value; the hash site's hot-path analogue of
    * `vec_dot`. Every graft session knows the function
    * ([[graft.LocalSpark.hardened]]), so the column resolves on
    * whichever session analyzes it. */
  def h32(c: Column): Column = call_function("h32", c)

  /** Same hash in DuckDB SQL over expression `e`. */
  def h32Sql(e: String): String =
    s"(('0x' || substr(md5($e), 1, 8))::BIGINT)"

  /** Second independent 32-bit hash word: md5 hex chars 9-16. Used
    * where an operator needs more than 32 hash bits per value (the
    * 64-bit SimHash takes bits 0-31 from [[h32]] and 32-63 from
    * here); md5 output words are independent, so the pair behaves as
    * one uniform 64-bit hash on both engines. */
  def h32b(c: Column): Column = call_function("h32b", c)

  /** 63-bit two-md5-word key of a string column: `h32(c)·2³¹ +
    * (h32b(c) >> 1)` — td25's construction, shared (ONE definition)
    * by the LM scoring sites in TextPipeline and the streaming LM
    * gate, whose stream/batch bit-parity depends on every copy being
    * identical. Mirrored textually into the DuckDB oracles
    * (`h32Sql(e) * 2147483648 + h32bSql(e) // 2`). Since r19 this is
    * the FUSED native kernel ([[graft.functions.Md5Key63]]): one MD5
    * digest per value instead of the composed form's two, values
    * bit-identical (FunctionsSpec pins the equivalence). */
  def hashKey63(c: Column): Column = call_function("h63", c)

  /** Same second hash word in DuckDB SQL over expression `e`. */
  def h32bSql(e: String): String =
    s"(('0x' || substr(md5($e), 9, 8))::BIGINT)"

  /** MinHash permutation i applied to hash column `h` (Spark side). */
  def perm(i: Int, h: Column): Column = {
    val (a, b) = MinHashAB(i)
    (h * a + b) % MinHashP
  }

  /** Same permutation in DuckDB SQL over expression `e`. */
  def permSql(i: Int, e: String): String = {
    val (a, b) = MinHashAB(i)
    s"(($e * $a + $b) % $MinHashP)"
  }

  /** Distinct word 3-gram shingles per document: (doc_id, shingle).
    * Docs with < 3 tokens contribute none (both engines).
    */
  def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 3)
      .select(
        col("doc_id"),
        explode(expr("sequence(1, size(t) - 2)")).as("i"),
        col("t"))
      .select(
        col("doc_id"),
        expr("concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2))")
          .as("shingle"))
      .distinct()

  /** DuckDB CTE body equivalent to [[shingles]]; exposes `sh(doc_id,
    * shingle)`. DuckDB list indexing is 1-based like Spark element_at.
    */
  val shinglesSqlCte: String =
    """sh AS (
      |  SELECT DISTINCT doc_id,
      |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) tok,
      |       LATERAL unnest(generate_series(1, len(t) - 2)) AS u(i)
      |  WHERE len(t) >= 3)""".stripMargin

  /** Distinct shingles with their 32-bit hash: (doc_id, h). */
  def shingleHashes(docs: DataFrame): DataFrame =
    shingles(docs).select(col("doc_id"), col("shingle"), h32(col("shingle")).as("h"))

  /** Cached shingle index over the `documents` table of `dir`. It is
    * shared state: four dedup/fingerprint operators consume the same
    * (doc_id, shingle, h) relation, so it is materialized once per
    * (session, corpus) — the in-memory analogue of the persisted
    * shingle index a 100 TB deployment would keep beside the corpus. */
  def shingleIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.SessionCache.named(spark, ("shingle_index", dir))(
      shingleHashes(graft.sources.Tables.table(spark, dir, "documents")))

  /** DuckDB CTEs exposing `shh(doc_id, shingle, h)`. */
  val shingleHashesSqlCte: String =
    shinglesSqlCte + ",\n" +
      s"""shh AS (SELECT doc_id, shingle, ${h32Sql("shingle")} AS h FROM sh)"""
}
