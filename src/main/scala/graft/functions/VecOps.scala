package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over `array<double>` columns, plus the
  * cross-engine-deterministic helpers (rounding, hashing, noise) that make
  * exact hash-comparison against the DuckDB oracle possible.
  *
  * The hot-path dot product is the codegen'd [[DotProduct]] native
  * expression; everything else is `org.apache.spark.sql.functions._`
  * built-ins — no Scala UDF / serialization anywhere in the hot path.
  */
object VecOps {

  /** Sequential left-fold dot product — same evaluation order as the
    * oracle's `list_dot_product`, so results agree to the last ulp on
    * identical inputs. The GEMM `A @ B.T` of the reference (attention.py:6,
    * mlp.py:7) is exactly this pairwise dot. Backed by the codegen'd
    * [[DotProduct]] Catalyst expression (the round-1 higher-order-function
    * form was interpreted — CodegenFallback — in every query's inner loop). */
  def dot(a: Column, b: Column): Column = NativeExprs.dot(a, b)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Cross-engine-identical rounding: floor(x*10^d + 0.5)/10^d is pure IEEE
    * double arithmetic, so Spark and DuckDB agree bit-for-bit given the same
    * input — unlike round(), whose half-up tie handling is engine-specific.
    * Used on every float aggregate that the driver hash-compares. */
  def qround(c: Column, digits: Int): Column = {
    val s = math.pow(10, digits)
    floor(c * lit(s) + lit(0.5)) / lit(s)
  }

  /** The SQL-oracle dual of [[qround]] (same literal, same ops).
    * Self-parenthesized: embedded in a larger expression (e.g.
    * `tf * ${qroundSql(...)}`), the unparenthesized form parsed as
    * `(tf * floor(...)) / 1eD` — a DIFFERENT double rounding than
    * Spark's `tf * (floor(...)/1eD)`, which flips the output grid on
    * exactly-half-grid values (caught at the r14 sf1 gate: the replica
    * suffix scheme makes idf('1') = ln(10) exactly, and tf·idf then
    * sits on the 4dp half-grid). */
  def qroundSql(expr: String, digits: Int): String =
    s"(floor(($expr) * 1e$digits + 0.5) / 1e$digits)"

  /** 60-bit uniform hash of a string column via md5 — the deterministic,
    * engine-portable PRNG stream. DuckDB dual:
    * `cast('0x' || substr(md5(s), 1, 15) as bigint)`. 15 hex digits < 2^63,
    * so the cast never overflows in either engine. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** TWO independent 60-bit hashes from ONE md5 (hex chars 1-15 and 17-31)
    * as array(h1, h2) — the base for Kirsch–Mitzenmacher double hashing:
    * `h_j = (h1 % 2^58) + j·(h2 % 2^54)`, giving K hash functions for the
    * price of one md5 (j ≤ 15 keeps the sum < 2^59 — no overflow under
    * ANSI in either engine, pure integer ops). */
  def hashPair(c: Column): Column = {
    val hex = md5(c)
    array(
      conv(substring(hex, 1, 15), 16, 10).cast("long"),
      conv(substring(hex, 17, 15), 16, 10).cast("long"))
  }

  /** SQL oracle dual of [[hashPair]]. */
  def hashPairSql(expr: String): String =
    s"[cast('0x' || substr(md5($expr), 1, 15) as bigint), cast('0x' || substr(md5($expr), 17, 15) as bigint)]"

  /** double-hashing moduli: h1 < 2^58, h2 < 2^54. */
  val DhM1 = 288230376151711744L // 2^58
  val DhM2 = 18014398509481984L // 2^54

  private[functions] val Pow260 = 1152921504606846976.0 // 2^60

  /** Uniform in (0,1): (h + 0.5) / 2^60 — never 0 or 1, safe for log(). */
  def u01(c: Column): Column =
    (hash60(c).cast("double") + lit(0.5)) / lit(Pow260)

  /** Standard Gumbel(0,1) noise from the deterministic u01 stream — the
    * portable replacement for the reference's torch Gumbel draw
    * (sampling.py:5,14); makes the sampler reproducible AND oracle-checkable. */
  def gumbel(c: Column): Column = -log(-log(u01(c)))

  /** SQL-oracle duals. */
  def hash60Sql(expr: String): String =
    s"cast('0x' || substr(md5($expr), 1, 15) as bigint)"
  def u01Sql(expr: String): String =
    s"((${hash60Sql(expr)})::DOUBLE + 0.5) / 1152921504606846976.0"
  def gumbelSql(expr: String): String =
    s"-ln(-ln(${u01Sql(expr)}))"

  // ---- integer pair-noise stream (Mix60Kernel) ----------------------------
  // The md5 stream above costs one digest per evaluation; per-PAIR noise
  // (the sampler evaluates it M×N times) uses the splitmix64-based
  // Mix60Kernel instead — same u01/gumbel shape, ~100× cheaper, still
  // bit-identical in DuckDB (HUGEINT arithmetic mod 2^64, verified
  // exhaustively in Mix60Spec / the oracle gate).

  /** 60-bit seed from a seed STRING via md5 — one digest at plan time,
    * inlined as a literal into both the Spark plan and the oracle SQL. */
  def seed60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    SketchKernel.hex60(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Standard Gumbel(0,1) noise keyed on (seed, a, b) id columns — the
    * per-pair dual of [[gumbel]] with the digest replaced by the codegen'd
    * integer mixer. */
  def pairGumbel(seed: Long, a: Column, b: Column): Column = {
    val u = (NativeExprs.mix60(seed, a, b).cast("double") + lit(0.5)) / lit(Pow260)
    -log(-log(u))
  }

  /** SQL dual of [[Mix60Kernel.mix60]] as DuckDB lateral-alias select
    * items: emits columns `z0..z4, h60` (HUGEINT chain, BIGINT h60)
    * computing splitmix64((seed + a·C1 + b·C2) mod 2^64) >> 4 with
    * mod-2^64 multiplies built from 32-bit halves (HUGEINT holds every
    * intermediate exactly; DuckDB raises on real overflow, so a silent
    * wrap is impossible). Append inside a SELECT whose FROM provides
    * `aExpr`/`bExpr`; reference `h60` downstream. */
  def mix60ColsSql(seed: Long, aExpr: String, bExpr: String): String = {
    val m64 = "18446744073709551616::HUGEINT" // 2^64
    def u(c: Long): java.math.BigInteger = // unsigned value of the Java constant
      java.math.BigInteger.valueOf(c).and(new java.math.BigInteger("FFFFFFFFFFFFFFFF", 16))
    // (a * c) mod 2^64 via 32-bit halves: lo·clo + ((lo·chi + hi·clo) mod 2^32)·2^32
    def mulmod(a: String, c: Long): String = {
      val cv = u(c)
      val clo = cv.mod(java.math.BigInteger.valueOf(1L << 32))
      val chi = cv.shiftRight(32)
      s"""(((($a) % 4294967296) * $clo::HUGEINT +
         |   (((($a) % 4294967296) * $chi::HUGEINT + (($a) // 4294967296) * $clo::HUGEINT)
         |    % 4294967296) * 4294967296) % $m64)""".stripMargin
    }
    s"""((${u(seed)}::HUGEINT + ${mulmod(s"($aExpr)::HUGEINT", Mix60Kernel.C1)}
       |  + ${mulmod(s"($bExpr)::HUGEINT", Mix60Kernel.C2)}) % $m64) AS z0,
       |xor(z0, z0 >> 30) AS z1,
       |${mulmod("z1", Mix60Kernel.M1)} AS z2,
       |xor(z2, z2 >> 27) AS z3,
       |${mulmod("z3", Mix60Kernel.M2)} AS z4,
       |(xor(z4, z4 >> 31) >> 4)::BIGINT AS h60""".stripMargin
  }

  /** Gumbel noise from the `h60` column [[mix60ColsSql]] emits. */
  val pairGumbelSql: String =
    "-ln(-ln((h60::DOUBLE + 0.5) / 1152921504606846976.0))"
}
