package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A [[BpeApplyMerges]] heap entry: a candidate merge of `l` and `r`
  * at `rank`, starting at `node`. Top-level so a pattern match on it
  * needs no outer-instance check.
  */
private final case class Cand(rank: Int, node: Int, l: String, r: String)

/** Apply a trained BPE merge list to a symbol array — the native
  * tokenization kernel behind [[graft.operators.BpeTokenizer.segment]]
  * (round 19, the apply-side twin of the batched-training fix).
  *
  * The previous shape folded one `aggregate` HOF per merge into a
  * single Column: sound and oracle-pinned at nMerges = 4, but a
  * 32k-merge production vocabulary would nest 32k aggregate
  * expressions — far past what Catalyst can analyze, the same
  * scaling cliff the training loop had on the driver side. This
  * expression applies ALL merges in ONE codegen-friendly kernel call
  * per row, with per-word cost O((len + applied) * log len)
  * INDEPENDENT of the vocabulary size — the linked-list + heap shape
  * production tokenizers use.
  *
  * Semantics are EXACTLY the engine's rank-by-rank greedy fold
  * (merge 1 applied greedily left-to-right across the word, then
  * merge 2 on the result, ...), which plain lowest-rank-first heap
  * merging does NOT preserve: a later merge's output string can
  * alias an earlier merge's operand (e.g. rank-3 `aa`+`b` creates
  * the `aab` a rank-2 `aab`+`c` pair wanted — two decompositions of
  * one string), and the sequential fold has already finished rank 2
  * by then. The heap therefore carries a RANK FRONTIER: entries pop
  * in (rank, leftmost-node) order, the frontier advances to each
  * popped rank, and a newly created pair whose rank is BEHIND the
  * frontier is never enqueued — equal to the fold by construction
  * (BpeApplyExpressionSpec pins it on alias chains, runs, and
  * randomized corpus/merge sweeps). Within one rank, left-to-right
  * order holds because merged nodes keep the LEFT node's index and a
  * merge can never create its own pair again (l+r differs from both
  * l and r, since both are non-empty).
  *
  * The merge list rides the serialized expression — shipped once per
  * stage with the task binary, like a broadcast (the [[VectorScale]]
  * weights convention); the rank map is built lazily once per
  * executor instance.
  */
case class BpeApplyMerges(
    child: Expression,
    merges: Seq[(String, String)]) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_apply"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> input, got " +
          other.simpleString(10))
    }

  // (left, right) -> 1-based rank, keyed "l r" (symbols can never
  // contain a space: they come from splitting on spaces, and merges
  // only concatenate). DISTINCT pairs required — with a duplicate
  // pair the fold could act again at the later rank after an
  // alias-created re-occurrence, which first-wins ranking cannot
  // reproduce; trained ledgers are duplicate-free by construction
  // (a merged pair's occurrences are all consumed and the pair can
  // never re-form, because l+r differs from both l and r), and
  // BpeTokenizer.segment routes duplicate-carrying hand-built lists
  // to the fold path instead.
  @transient private lazy val rankOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    var k = 0
    while (k < merges.size) {
      val key = merges(k)._1 + " " + merges(k)._2
      require(!m.containsKey(key),
        s"$prettyName requires distinct merge pairs; duplicate: " +
          s"(${merges(k)._1}, ${merges(k)._2})")
      m.put(key, Integer.valueOf(k + 1))
      k += 1
    }
    m
  }

  /** Public row kernel — called from both eval and generated code. */
  def kernel(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2 || merges.isEmpty) return arr.copy()
    val sym = new Array[String](n)
    var i = 0
    while (i < n) { sym(i) = arr.getUTF8String(i).toString; i += 1 }

    // doubly-linked list over positions; merged nodes keep the LEFT
    // node's index, so node order is stable left-to-right
    val next = new Array[Int](n)
    val prev = new Array[Int](n)
    val alive = new Array[Boolean](n)
    i = 0
    while (i < n) {
      next(i) = i + 1; prev(i) = i - 1; alive(i) = true; i += 1
    }

    // heap entries (rank, leftNode, l, r); validated on pop — stale
    // entries (dead node, changed symbols) are discarded
    val heap = new java.util.PriorityQueue[Cand](
      n,
      new java.util.Comparator[Cand] {
        override def compare(a: Cand, b: Cand): Int = {
          val c = Integer.compare(a.rank, b.rank)
          if (c != 0) c else Integer.compare(a.node, b.node)
        }
      })
    def rank(l: String, r: String): Int = {
      val v = rankOf.get(l + " " + r)
      if (v == null) -1 else v.intValue()
    }
    def push(node: Int, frontier: Int): Unit = {
      val nx = next(node)
      if (nx < n) {
        val k = rank(sym(node), sym(nx))
        // the frontier guard: a pair whose rank is already behind the
        // sequential pass order must NOT merge (alias-created pairs)
        if (k >= frontier) { heap.add(Cand(k, node, sym(node), sym(nx))); () }
      }
    }
    i = 0
    while (i < n - 1) { push(i, 1); i += 1 }

    var frontier = 1
    while (!heap.isEmpty) {
      val c = heap.poll()
      val ok = c.rank >= frontier && alive(c.node) &&
        next(c.node) < n && alive(next(c.node)) &&
        sym(c.node) == c.l && sym(next(c.node)) == c.r
      if (ok) {
        frontier = c.rank
        val j = next(c.node)
        sym(c.node) = c.l + c.r
        alive(j) = false
        next(c.node) = next(j)
        if (next(j) < n) prev(next(j)) = c.node
        if (prev(c.node) >= 0) push(prev(c.node), frontier)
        push(c.node, frontier)
      }
    }

    val out = new java.util.ArrayList[AnyRef](n)
    i = 0
    while (i < n) {
      if (alive(i)) { out.add(UTF8String.fromString(sym(i))); () }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(arr: Any): Any =
    kernel(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeApplyMerges", this,
      classOf[BpeApplyMerges].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.kernel($v);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeApplyMerges = copy(child = newChild)
}
