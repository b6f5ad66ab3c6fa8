package graft.plans

import graft.functions.HashExpressions._
import graft.sinks.LocalFs
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** `SparkSessionExtensions` installer that surfaces the library's compiled
  * Catalyst expressions as SQL functions, so the raw-SQL extraction path (the
  * reference's `ExtractionType.Query`, `DataIngestionJob.cs:84-112`) can use
  * the sketching primitives directly:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT doc_id, simhash64(word_shingles(text, 3)) FROM documents")
  * }}}
  *
  * or via config (no code at all):
  * `spark.sql.extensions=graft.plans.GraftExtensions`. This is the brief's
  * extension ladder rung (c): analyzer-level registration, not a UDF — the
  * functions resolve to the same expressions the DataFrame API uses, with
  * identical performance.
  *
  * It also routes the session's `file:` paths through [[graft.sinks.LocalFs]],
  * Hadoop's local filesystem without a child process per permission or link
  * call. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // auto-rewrite non-equi range joins to the binned equi-join form
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    // file: paths land through graft.sinks.LocalFs. A session builds its
    // parser with its state: after its SparkContext exists (withExtensions
    // runs before that) and before it first lists or writes a file. So the
    // parser hook installs the filesystem and returns the parser unchanged.
    ext.injectParser { (session, parser) => LocalFs.install(session); parser }
  }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  private def fn(name: String, usage: String, builder: FunctionBuilder)
  : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name, usage),
      builder)

  /** The SQL functions [[GraftExtensions]] registers. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("word_shingles",
      "word_shingles(text, n) - lowercase word n-grams of text",
      args => WordShingles(args(0), intArg(args(1), "word_shingles", 1))),
    fn("minhash_sig",
      "minhash_sig(shingles, k) - k-element MinHash signature of a string array",
      args => MinHashSig(args(0), intArg(args(1), "minhash_sig", 1))),
    fn("simhash64",
      "simhash64(tokens) - 64-bit SimHash of a string array",
      args => SimHash64(args(0))),
    fn("hashed_sorted_set",
      "hashed_sorted_set(strings) - sorted distinct xxhash64 set of a string array",
      args => HashedSortedSet(args(0))),
    fn("sorted_intersect_count",
      "sorted_intersect_count(a, b) - intersection size of two sorted long arrays",
      args => SortedIntersectCount(args(0), args(1))),
    fn("array_dot",
      "array_dot(a, b) - double dot product of two numeric arrays",
      args => ArrayDot(args(0), args(1))),
    fn("bottom_k",
      "bottom_k(expr, k) - KMV sketch: the k smallest distinct string values",
      args => graft.functions.SketchAggregates.BottomK(
        args(0), intArg(args(1), "bottom_k", 1))),
    fn("top_k_rows",
      "top_k_rows(struct, k) - k largest struct rows per group (heap, map-side combine)",
      args => graft.functions.SketchAggregates.TopKRows(
        args(0), intArg(args(1), "top_k_rows", 1))))
}
