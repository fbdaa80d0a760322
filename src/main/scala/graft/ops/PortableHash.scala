package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable hash primitives.
  *
  * Round 1 keyed the probabilistic ops (fingerprint, simhash, minhash, LSH)
  * on `xxhash64`, which no other engine reproduces — so those queries could
  * only be rows-count-checked. Everything here is plain modular arithmetic
  * over character codes, expressible identically as a Catalyst column tree
  * AND as DuckDB SQL (each `xxxSql` emits the SQL twin of the Column
  * builder above it, from the same constants) — making every hash-bearing
  * query bit-for-bit oracle-checkable.
  *
  * All arithmetic stays inside non-negative Long (Spark 4 ANSI mode throws
  * on overflow): every fold step bounds its accumulator with a modulus
  * chosen so `acc * mult + x < 2^63`.
  *
  * Scale note: these are codegen'd scalar expressions evaluated inside the
  * row pipeline (no UDF, no shuffle); the char fold is O(len) like any
  * string hash.
  */
object PortableHash {

  /** Per-token fold modulus (fingerprint): prime, keeps acc*31 tiny. */
  val TokenP = 1000003L
  /** Document-fingerprint modulus: largest prime < 10^15 (acc*31 < 2^55). */
  val FingerprintP = 999999999999989L
  /** 31-bit Mersenne prime — base hash space for minhash / simhash halves. */
  val P31 = 2147483647L
  /** Second 31-bit prime (independent simhash half). */
  val P31b = 2147483629L
  /** Band-signature fold modulus (< 2^30 so acc*1000003 < 2^50). */
  val BandP = 1000000007L
  val BandMult = 1000003L

  // ---------- char fold: h = (h*mult + codepoint) mod p ----------
  // Contract: identical across engines for all BMP text (Spark folds UTF-16
  // units, DuckDB folds codepoints — these agree except for astral-plane
  // characters, which the token pre-split also never produces here).

  /** Native codegen expression (graft.functions.CharFold) rather than the
    * composable `aggregate(split(s, ""), …)` form: higher-order functions
    * are CodegenFallback — every character cost an interpreted lambda step
    * plus a per-character allocation from the split, which dominated the
    * shingle/minhash pipelines. Identical values (spec-asserted against
    * the composable form, kept in test scope, including astral/empty
    * inputs).
    */
  def charFold(s: Column, mult: Long, p: Long): Column =
    graft.functions.CharFold(s, mult, p)

  def charFoldSql(s: String, mult: Long, p: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length($s)+1), " +
      s"gi -> CAST(ascii(($s)[gi]) AS BIGINT))), (ga, gc) -> (ga*$mult+gc) % $p)"

  // ---------- token hashes ----------

  /** ~20-bit token hash (fingerprint ingredient). */
  def tokenHash(s: Column): Column = charFold(s, 31L, TokenP)
  def tokenHashSql(s: String): String = charFoldSql(s, 31L, TokenP)

  /** 31-bit shingle hash (minhash base). */
  def tokenHash31(s: Column): Column = charFold(s, 31L, P31)
  def tokenHash31Sql(s: String): String = charFoldSql(s, 31L, P31)

  /** 62-bit token hash (simhash): two independent 31-bit folds packed. */
  def tokenHash62(s: Column): Column =
    charFold(s, 31L, P31) * lit(2147483648L) + charFold(s, 37L, P31b)
  def tokenHash62Sql(s: String): String =
    s"(${charFoldSql(s, 31L, P31)}) * 2147483648 + (${charFoldSql(s, 37L, P31b)})"

  // ---------- universal-hash family for minhash permutations ----------

  /** h_i(x) = (a_i·x + b_i) mod P31 — a_i, b_i from a fixed LCG, so both
    * engines embed the same literal constants.
    */
  def seedA(i: Int): Long = ((i + 1L) * 1103515245L + 12345L) % P31
  def seedB(i: Int): Long = ((i + 1L) * 179424673L + 97L) % P31

  def permuted(h31: Column, i: Int): Column =
    pmod(lit(seedA(i)) * h31 + lit(seedB(i)), lit(P31))
  def permutedSql(h31: String, i: Int): String =
    s"((${seedA(i)} * ($h31) + ${seedB(i)}) % $P31)"

  /** Band signature: order-sensitive fold of the band's row minima. */
  def bandFold(rows: Seq[Column]): Column =
    rows.foldLeft(lit(0L): Column)((acc, h) => pmod(acc * BandMult + h, lit(BandP)))
  def bandFoldSql(rows: Seq[String]): String =
    rows.foldLeft("CAST(0 AS BIGINT)")((acc, h) => s"(($acc)*$BandMult + $h) % $BandP")

  // ---------- random-hyperplane components for vector LSH ----------

  /** plane(k, d) ∈ [-1, 1): LCG over the (hyperplane k, dimension d) pair —
    * no stored model, reproducible across engines and runs.
    * v = (((k mod 1000003)·8191 + d)·1103515245 + 12345) mod 2000;
    * plane = (v−1000)/1000.
    *
    * k is reduced mod 1000003 up front so the multiply chain stays below
    * 2^63 for EVERY non-negative seed (without it, seeds above ~1.02e6
    * overflow and throw under Spark 4 ANSI mode). `k` must be ≥ 0: the SQL
    * twin uses engine `%`, which differs from pmod on negatives.
    */
  def plane(k: Column, d: Column): Column =
    (pmod((pmod(k.cast("long"), lit(1000003L)) * 8191L + d.cast("long")) * 1103515245L + 12345L,
        lit(2000L))
      .cast("double") - lit(1000.0)) / lit(1000.0)

  def planeSql(k: String, d: String): String =
    s"(CAST(((((CAST($k AS BIGINT) % 1000003)*8191 + ($d))*1103515245 + 12345) % 2000) AS DOUBLE) - 1000.0) / 1000.0"

  /** Signed projection of a float-array embedding onto hyperplane k:
    * sequential index-order double accumulation (bit-identical both engines).
    * Dimensionality comes from the array itself — nothing hardcoded.
    */
  /** Native codegen expression (graft.functions.LshProj) rather than the
    * composable `aggregate(transform(…))` form: the LCG bucketing pass
    * evaluates nTables·nBits projections per row, and the higher-order
    * form paid an interpreted lambda step per element per projection.
    * Bit-identical doubles (same sequential accumulation order;
    * spec-asserted against the composable form, kept in test scope).
    */
  def lshProj(emb: Column, k: Column): Column =
    graft.functions.LshProj(emb, k)

  def lshProjSql(emb: String, k: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($emb)+1), " +
      s"gi -> CAST(($emb)[gi] AS DOUBLE) * (${planeSql(k, "gi-1")}))), (ga, gx) -> ga + gx)"

  /** nBits-bit bucket id for LSH table `tableId` (Column, so one exploded
    * pass computes all tables): bit b set iff proj(k = tableId·nBits+b) ≥ 0.
    */
  def lshBucket(emb: Column, tableId: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { b =>
      when(lshProj(emb, tableId * nBits + b) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    // a NULL embedding — or one with a NULL ELEMENT, which nulls every
    // projection the same way — gets a NULL bucket (dropped by the bucket
    // equi-join), NOT bucket 0: every bit would fall to otherwise(0),
    // false-pairing the row with all genuine bucket-0 vectors
    when(emb.isNotNull && !exists(emb, x => x.isNull), bits)
  }

  def lshBucketSql(emb: String, tableId: String, nBits: Int): String = {
    val bits = (0 until nBits).map { b =>
      s"(CASE WHEN (${lshProjSql(emb, s"($tableId)*$nBits + $b")}) >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    // twin of the Column path's degenerate-row guard: NULL array OR any
    // NULL element → NULL bucket
    s"(CASE WHEN ($emb) IS NULL OR len(list_filter($emb, gx -> gx IS NULL)) > 0 " +
      s"THEN NULL ELSE $bits END)"
  }
}
