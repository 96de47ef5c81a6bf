package graft.plans

import graft.functions.{AdjPairs, CellDupStats, CellKnnPairs, CellTopPairs, DotProductD, GramJoin, GramMd5, GramStructs, LevenshteinD, LnSmall, Log2Q20, LshSignCodes, Md5Keyed, MinHashHex, OuterMoments, RpMoments, SimHashAgg, SkipPairs, TopKLongs, UniViterbi}
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.Decimal

/** Engine extension point (SparkSessionExtensions): registers graft's
  * native expressions as SQL functions. Required: every query that uses
  * a kernel calls its `graft_*` function with no fallback, so a session
  * without the extension fails those queries at analysis with
  * UNRESOLVED_ROUTINE. Install with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (done by Verify/Bench/tests) or `withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Evaluate a function argument that MUST be an integer literal
    * (permutation counts, plane counts, distance bounds — values baked
    * into the expression at plan time). A non-foldable argument (a
    * column, say) would otherwise die inside `eval()` with an opaque
    * Unevaluable/ClassCast error mid-analysis; surface the standard
    * NON_FOLDABLE_INPUT / UNEXPECTED_INPUT_TYPE analysis errors naming
    * the function and argument instead. */
  private def intLit(fn: String, argName: String, e: Expression): Int =
    literal(fn, argName, "INT", e) { case n: Number => n.intValue }

  /** [[intLit]] for a DOUBLE argument (a similarity threshold `tau`);
    * accepts any numeric literal, decimals included. */
  private def doubleLit(fn: String, argName: String, e: Expression): Double =
    literal(fn, argName, "DOUBLE", e) {
      case n: Number => n.doubleValue
      case d: Decimal => d.toDouble
    }

  private def literal[T](fn: String, argName: String, sqlType: String, e: Expression)(
      value: PartialFunction[Any, T]): T = {
    if (!e.foldable)
      throw new AnalysisException(
        errorClass = "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
        messageParameters = Map(
          "sqlExpr" -> s""""$fn"""",
          "inputName" -> s"`$argName`",
          "inputType" -> s""""$sqlType"""",
          "inputExpr" -> s""""${e.sql}""""),
        cause = None)
    value.applyOrElse(e.eval(), (_: Any) =>
      throw new AnalysisException(
        errorClass = "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
        messageParameters = Map(
          "sqlExpr" -> s""""$fn"""",
          "paramIndex" -> s"`$argName`",
          "requiredType" -> s""""$sqlType"""",
          "inputSql" -> s""""${e.sql}"""",
          "inputType" -> s""""${e.dataType.catalogString}""""),
        cause = None))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductD].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProductD(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_codes"),
      new ExpressionInfo(classOf[LshSignCodes].getName, "graft_lsh_codes"),
      (children: Seq[Expression]) => {
        // (v, seed, tables, planes, dim) — trailing four are int literals
        def lit(name: String, e: Expression) = intLit("graft_lsh_codes", name, e)
        LshSignCodes(children(0), lit("seed", children(1)), lit("tables", children(2)),
          lit("planes", children(3)), lit("dim", children(4)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lev"),
      new ExpressionInfo(classOf[LevenshteinD].getName, "graft_lev"),
      (children: Seq[Expression]) =>
        // optional 3rd arg: distance bound k (int literal) → banded kernel
        LevenshteinD(children(0), children(1),
          children.drop(2).headOption.map(intLit("graft_lev", "k", _)))))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_keyed"),
      new ExpressionInfo(classOf[Md5Keyed].getName, "graft_md5_keyed"),
      (children: Seq[Expression]) =>
        Md5Keyed(children(0), intLit("graft_md5_keyed", "n", children(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_ln_small"),
      new ExpressionInfo(classOf[LnSmall].getName, "graft_ln_small"),
      (children: Seq[Expression]) => LnSmall(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_log2q20"),
      new ExpressionInfo(classOf[Log2Q20].getName, "graft_log2q20"),
      (children: Seq[Expression]) => Log2Q20(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_hex"),
      new ExpressionInfo(classOf[MinHashHex].getName, "graft_minhash_hex"),
      (children: Seq[Expression]) =>
        MinHashHex(children(0), intLit("graft_minhash_hex", "n", children(1)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_outer_moments"),
      new ExpressionInfo(classOf[OuterMoments].getName, "graft_outer_moments"),
      (children: Seq[Expression]) =>
        OuterMoments(children(0), intLit("graft_outer_moments", "d", children(1)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_rp_moments"),
      new ExpressionInfo(classOf[RpMoments].getName, "graft_rp_moments"),
      (children: Seq[Expression]) => {
        // (v, kdim, dim, quant) — trailing three are int literals
        def lit(name: String, e: Expression) = intLit("graft_rp_moments", name, e)
        RpMoments(children(0), lit("kdim", children(1)), lit("dim", children(2)),
          lit("quant", children(3)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKLongs].getName, "graft_topk"),
      (children: Seq[Expression]) =>
        TopKLongs(children(0), intLit("graft_topk", "k", children(1)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_grams"),
      new ExpressionInfo(classOf[GramJoin].getName, "graft_grams"),
      (children: Seq[Expression]) =>
        GramJoin(children(0), intLit("graft_grams", "n", children(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_md5s"),
      new ExpressionInfo(classOf[GramMd5].getName, "graft_gram_md5s"),
      (children: Seq[Expression]) =>
        GramMd5(children(0), intLit("graft_gram_md5s", "n", children(1)),
          children.drop(2).headOption
            .map(intLit("graft_gram_md5s", "stride", _)).getOrElse(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_structs"),
      new ExpressionInfo(classOf[GramStructs].getName, "graft_gram_structs"),
      (children: Seq[Expression]) =>
        GramStructs(children(0), intLit("graft_gram_structs", "nmax", children(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_adj_pairs"),
      new ExpressionInfo(classOf[AdjPairs].getName, "graft_adj_pairs"),
      (children: Seq[Expression]) => AdjPairs(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_skip_pairs"),
      new ExpressionInfo(classOf[SkipPairs].getName, "graft_skip_pairs"),
      (children: Seq[Expression]) =>
        SkipPairs(children(0), intLit("graft_skip_pairs", "window", children(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "graft_simhash"),
      (children: Seq[Expression]) =>
        SimHashAgg(children(0), intLit("graft_simhash", "nbits", children(1)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_cell_knn"),
      new ExpressionInfo(classOf[CellKnnPairs].getName, "graft_cell_knn"),
      (children: Seq[Expression]) =>
        CellKnnPairs(children(0), children(1), children(2),
          intLit("graft_cell_knn", "k", children(3)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_cell_dups"),
      new ExpressionInfo(classOf[CellDupStats].getName, "graft_cell_dups"),
      (children: Seq[Expression]) =>
        // tau: the SemDeDup threshold baked into the expression at plan time
        CellDupStats(children(0), children(1), children(2),
          doubleLit("graft_cell_dups", "tau", children(3)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_cell_top_pairs"),
      new ExpressionInfo(classOf[CellTopPairs].getName, "graft_cell_top_pairs"),
      (children: Seq[Expression]) =>
        // tau: the similarity floor baked into the expression at plan time
        CellTopPairs(children(0), children(1), children(2),
          doubleLit("graft_cell_top_pairs", "tau", children(3)),
          intLit("graft_cell_top_pairs", "k", children(4)))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_uni_viterbi"),
      new ExpressionInfo(classOf[UniViterbi].getName, "graft_uni_viterbi"),
      (children: Seq[Expression]) => {
        // (w, map(piece, cost, ...), maxPieceLen) — the map must be a
        // foldable literal (the trained piece-cost table); it is
        // evaluated here, once, into plain driver data
        val md = literal("graft_uni_viterbi", "costTable", "MAP<STRING, BIGINT>",
          children(1)) { case m: MapData => m }
        val keys = md.keyArray()
        val vals = md.valueArray()
        val pairs = (0 until md.numElements()).map(i =>
          (keys.getUTF8String(i).toString, vals.getLong(i)))
        UniViterbi(children(0), pairs,
          intLit("graft_uni_viterbi", "maxPieceLen", children(2)))
      }))
  }
}
