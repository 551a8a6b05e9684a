package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session.table

/** Edit-distance-≤1 similarity join via deletion neighborhoods — the fuzzy
  * string-match tier (near-dup keys, typo'd identifiers) done as bounded
  * candidate generation + exact verify, never an all-pairs scan. Two
  * strings within edit distance 1 necessarily SHARE a member of
  * {s} ∪ del1(s) (delete-one-char variants): substitution → the deletion
  * at the substituted position coincides; insert/delete → the longer
  * string's del1 contains the shorter; equality → s itself. So an equi
  * join on the (|s|+1)-key signature set finds every true pair
  * (recall 1 by the cover argument), and a cheap O(|s|) two-pointer check
  * verifies candidates exactly — the LSH-tier shape (generate → verify)
  * applied to strings.
  *
  * Scale: the exchange carries (signature, id) pairs — |s|+1 per string,
  * ~19 here; signature buckets are bounded by construction (strings
  * sharing a del1 variant differ in ≤ 1 position), and a df-cap like the
  * shingle path's would bolt on unchanged for adversarial corpora. The
  * oracle is the HONEST all-pairs `levenshtein ≤ 1` join (DuckDB's DP
  * implementation — a different algorithm family) over the same bounded
  * key range.
  */
object FuzzyJoin {

  /** {s} ∪ all delete-one-char variants. */
  def del1Keys(s: String): Seq[String] =
    s +: (0 until s.length).map(i => s.substring(0, i) + s.substring(i + 1))

  /** Exact edit-distance ≤ 1 check (two-pointer; O(|s|), no DP table). */
  def editDistanceLe1(a: String, b: String): Boolean = {
    val la = a.length; val lb = b.length
    if (a == b) true
    else if (math.abs(la - lb) > 1) false
    else if (la == lb) {
      var diff = 0; var i = 0
      while (i < la && diff <= 1) { if (a.charAt(i) != b.charAt(i)) diff += 1; i += 1 }
      diff <= 1
    } else {
      val (s, l) = if (la < lb) (a, b) else (b, a)
      var i = 0; var j = 0; var skipped = false; var ok = true
      while (i < s.length && ok) {
        if (s.charAt(i) == l.charAt(j)) { i += 1; j += 1 }
        else if (!skipped) { skipped = true; j += 1 }
        else ok = false
      }
      ok
    }
  }

  /** Gate query (q104): all customer-name pairs within edit distance 1
    * (custkey ≤ maxKey keeps the honest all-pairs oracle tractable at
    * sf0.1). Output (a_key, b_key, dist), a < b. */
  def nameNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
      .filter(col("c_custkey") <= 3000L)
      .select(col("c_custkey"), col("c_name"))
    val sigs = udf((s: String) => del1Keys(s))
    val a = c.select(col("c_custkey").as("a_key"), col("c_name").as("a_name"),
      explode(sigs(col("c_name"))).as("sig"))
    val b = a.select(col("a_key").as("b_key"), col("a_name").as("b_name"), col("sig"))
    val verify = udf((x: String, y: String) => editDistanceLe1(x, y))
    a.join(b, "sig")
      .filter(col("a_key") < col("b_key"))
      .select(col("a_key"), col("a_name"), col("b_key"), col("b_name"))
      .distinct()
      .filter(verify(col("a_name"), col("b_name")))
      .select(col("a_key"), col("b_key"),
        when(col("a_name") === col("b_name"), 0).otherwise(1).cast("int").as("dist"))
  }
}
