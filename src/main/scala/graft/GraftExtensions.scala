package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Library entry point for `spark.sql.extensions` — installs the
  * engine's native Catalyst expressions as SQL functions so any
  * session (SQL-only users included) can call them:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  *
  * SELECT graft_minhash_sig(text, 4)   FROM docs;   -- MinHash signature
  * SELECT graft_simhash(text)          FROM docs;   -- 16-bit SimHash
  * SELECT graft_dot_long(qa, qb)       FROM pairs;  -- integer dot product
  * SELECT xrpl_quality_decode(bd, p, g) FROM exch;  -- X5 quality decode
  * }}}
  *
  * The same functions are available on the Column API via their
  * companion objects (`MinHashSig.minhash_sig`, `SimHash.simhash`,
  * `DotProductLong.dot_long`, `QualityDecode.quality_decode`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig",
        "graft_minhash_sig(text, n) - n-permutation MinHash signature over 8-char shingles"),
      (exprs: Seq[Expression]) =>
        graft.functions.MinHashSig(exprs.head,
          exprs(1).eval().asInstanceOf[Int])))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      info("graft_simhash",
        "graft_simhash(text) - 16-bit SimHash fingerprint of whitespace tokens"),
      (exprs: Seq[Expression]) => graft.functions.SimHash(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_dot_long"),
      info("graft_dot_long",
        "graft_dot_long(a, b) - exact integer dot product of two array<bigint>"),
      (exprs: Seq[Expression]) =>
        graft.functions.DotProductLong(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("xrpl_quality_decode"),
      info("xrpl_quality_decode",
        "xrpl_quality_decode(book_directory, pays_currency, gets_currency) - offer quality from a BookDirectory"),
      (exprs: Seq[Expression]) =>
        graft.xrpl.catalyst.QualityDecode(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_prefix"),
      info("graft_md5_prefix",
        "graft_md5_prefix(s[, hexLen]) - first hexLen (default 8) hex chars of md5(s) as BIGINT; portable across engines"),
      (exprs: Seq[Expression]) =>
        if (exprs.length > 1)
          graft.functions.Md5Prefix(exprs.head,
            exprs(1).eval().asInstanceOf[Int])
        else graft.functions.Md5Prefix(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_draws"),
      info("graft_md5_draws",
        "graft_md5_draws(s) - five 24-bit integer draws from md5(s) as array<bigint>"),
      (exprs: Seq[Expression]) => graft.functions.Md5Draws(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro"),
      info("graft_jaro",
        "graft_jaro(a, b) - Jaro similarity, bit-exact with DuckDB's jaro_similarity"),
      (exprs: Seq[Expression]) =>
        graft.functions.JaroSim(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      info("graft_jaro_winkler",
        "graft_jaro_winkler(a, b) - Jaro-Winkler similarity, bit-exact with DuckDB's jaro_winkler_similarity"),
      (exprs: Seq[Expression]) =>
        graft.functions.JaroWinklerSim(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_hilbert_key"),
      info("graft_hilbert_key",
        "graft_hilbert_key(x, y[, bits]) - Hilbert-curve position of the (x, y) cell in a 2^bits grid (default 8); the no-seams layout key"),
      (exprs: Seq[Expression]) =>
        if (exprs.length > 2)
          graft.functions.HilbertKey(exprs.head, exprs(1),
            exprs(2).eval().asInstanceOf[Int])
        else graft.functions.HilbertKey(exprs.head, exprs(1))))
    // the one planner strategy for the custom physical operators: the
    // range scan (running sum / max / forward fill) and the top-k per
    // key heap pair; sessions not built with these extensions get it
    // registered lazily by RangeScan.scan and TopKPerKey.topK
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    // optimizer rule: the stock `row_number().over(...) <= k` spelling
    // heap-prunes through TopKPerKeyNode before the window executes
    // (graft.plans.TopKWindowRewrite — row_number only, keep-head only)
    ext.injectOptimizerRule(_ => graft.plans.TopKWindowRewrite)
  }
}
