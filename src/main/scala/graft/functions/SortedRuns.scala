package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge.AbstractType
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * Run-length kernels over a SORTED `array<string>` — the native-expression
 * fast path for frequency statistics that never need the (token → count)
 * map materialized: equal elements are adjacent after `array_sort`, so one
 * primitive pass yields Σcᵢ² ([[SortedRunSumSq]]) and the distinct count
 * ([[SortedRunCount]]).
 *
 * The higher-order-function formulation (filter/zip_with/aggregate over a
 * run-starts index array, q141's first implementation) allocates three
 * intermediate arrays per row and evaluates interpreted lambdas; these
 * expressions are a single allocation-free loop inside whole-stage codegen
 * — same contract, measured ~2× (1.8–2.9×) on the sf0.1 documents corpus
 * (`graft.tools.Profile <sfDir> q141_simpson` times the query
 * that uses them). Null elements
 * compare equal to each other (`array_sort` groups them last), matching
 * the count-by-value semantics of a groupBy.
 */
abstract class SortedRunKernel extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  // analysis-time type gate (the sibling-kernel convention): without it a
  // long-array or scalar argument passes analysis and getUTF8String reads
  // garbage offsets at runtime
  override def inputTypes: Seq[AbstractType] = Seq(ArrayType(StringType))

  /** (runLength → contribution) in eval; mirrored in generated Java. */
  protected def contribute(run: Long): Long
  protected def contributeJava(run: String): String

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var acc = 0L
    var run = 0L
    var i = 0
    while (i < n) {
      val sameAsPrev = i > 0 && {
        val nullNow = a.isNullAt(i); val nullPrev = a.isNullAt(i - 1)
        (nullNow && nullPrev) ||
          (!nullNow && !nullPrev &&
            a.getUTF8String(i) == a.getUTF8String(i - 1))
      }
      if (sameAsPrev) run += 1L
      else { acc += contribute(run); run = 1L }
      i += 1
    }
    acc + contribute(run) // run = 0 for an empty array contributes 0
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // freshName everywhere: fixed locals collide when two instances land in
    // one generated function and silently fall back to interpreted eval
    val i = ctx.freshName("i"); val n = ctx.freshName("n")
    val acc = ctx.freshName("acc"); val run = ctx.freshName("run")
    val same = ctx.freshName("same")
    nullSafeCodeGen(ctx, ev, a => s"""
      int $n = $a.numElements();
      long $acc = 0L;
      long $run = 0L;
      for (int $i = 0; $i < $n; $i++) {
        boolean $same = false;
        if ($i > 0) {
          boolean nNow = $a.isNullAt($i);
          boolean nPrev = $a.isNullAt($i - 1);
          $same = (nNow && nPrev) || (!nNow && !nPrev &&
            $a.getUTF8String($i).equals($a.getUTF8String($i - 1)));
        }
        if ($same) { $run++; } else { $acc += ${contributeJava(run)}; $run = 1L; }
      }
      $acc += ${contributeJava(run)};
      ${ev.value} = $acc;""")
  }
}

/** Σ (run length)² over a sorted array — the Simpson-index numerator. */
case class SortedRunSumSq(child: Expression) extends SortedRunKernel {
  override def prettyName: String = "sorted_run_sumsq"
  override protected def contribute(run: Long): Long = run * run
  override protected def contributeJava(run: String): String = s"$run * $run"
  override protected def withNewChildInternal(c: Expression): SortedRunSumSq =
    copy(child = c)
}

/** Number of runs (= distinct values) in a sorted array. */
case class SortedRunCount(child: Expression) extends SortedRunKernel {
  override def prettyName: String = "sorted_run_count"
  override protected def contribute(run: Long): Long = if (run > 0L) 1L else 0L
  override protected def contributeJava(run: String): String =
    s"($run > 0L ? 1L : 0L)"
  override protected def withNewChildInternal(c: Expression): SortedRunCount =
    copy(child = c)
}

object SortedRuns {
  /** Column API for [[SortedRunSumSq]] — input MUST be sorted. */
  def sortedRunSumSq(a: Column): Column =
    GraftColumnBridge.column(SortedRunSumSq(GraftColumnBridge.expression(a)))

  /** Column API for [[SortedRunCount]] — input MUST be sorted. */
  def sortedRunCount(a: Column): Column =
    GraftColumnBridge.column(SortedRunCount(GraftColumnBridge.expression(a)))
}
