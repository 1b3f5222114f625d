package graft.ops.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Fused in-bucket pair expansion + prune + verify for the exact-Jaccard
  * join — a Catalyst [[Generator]] that replaces the double-explode
  * spelling of the Vernica/Carey/Li kernel phase.
  *
  * WHY: the double explode materializes an UnsafeRow carrying BOTH
  * members' full gram arrays (~2 KB) for EVERY candidate pair before the
  * prunes and the merge kernel see it. At the SF10 rehearsal that is the
  * allocation hotspot of the whole library: ~620 GB allocated per q29 run
  * (measured with -Xlog:gc*, constant across runs), all of it short-lived
  * pair rows — and the resulting G1 concurrent-mark/refinement CPU
  * competing with 32 fully-subscribed worker threads is what made wall
  * time swing 244-408 s run-to-run at identical work. This generator walks
  * the bucket array IN PLACE — the i<j loop reads struct slices of the one
  * bucket row, applies the length filter, the PPJoin positional prune, and
  * the early-exit merge kernel per pair with ZERO per-candidate
  * allocation — and emits only survivor triples (id_a, id_b, jaccard),
  * which are ~the true-pair count, orders of magnitude fewer bytes.
  *
  * Semantics are IDENTICAL to the explode spelling (same epsilon-guarded
  * prune arithmetic, same kernels, same once-per-shared-prefix-gram
  * duplication — the downstream distinct() dedups): PlanShapeSpec-level
  * behavior is pinned by q29/q38/q42 staying oracle-green.
  *
  * Input: `array<struct<id, len: int, rn: int, ss: array<long|string>>>`
  * — the bounded bucket struct built by [[graft.ops.Dedup.jaccardPairs]].
  * Output columns: `id_a`, `id_b` (id's type), `jaccard` (double).
  */
case class BucketJaccardPairs(child: Expression, threshold: Double)
  extends UnaryExpression with Generator with CodegenFallback {

  private lazy val structType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val idType: DataType = structType(0).dataType
  private lazy val ssElemIsLong: Boolean =
    structType(3).dataType.asInstanceOf[ArrayType].elementType == LongType
  private lazy val idOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(idType)

  private def ssOk(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) | ArrayType(StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.length == 4 &&
        st(1).dataType == IntegerType && st(2).dataType == IntegerType &&
        ssOk(st(3).dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "bucket_jaccard_pairs needs array<struct<id, len: int, rn: int, " +
        s"ss: array<bigint|string>>>, got ${other.simpleString}")
  }

  override def elementSchema: StructType = new StructType()
    .add("id_a", idType, nullable = structType(0).nullable)
    .add("id_b", idType, nullable = structType(0).nullable)
    .add("jaccard", DoubleType, nullable = false)

  // the same epsilon-guarded ceilings as the Column spelling: conservative
  // in the lossless direction only (see jaccardPairs' ceilT/reqOverlap)
  private def reqOverlap(la: Int, lb: Int): Long =
    math.ceil((la + lb) * (threshold / (1 + threshold) * (1 - 1e-12)) - 1e-9).toLong

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() < 2) return Nil
    val n = arr.numElements()
    // pre-extract member columns ONCE per bucket (primitives + n array
    // views) instead of allocating two struct views per candidate pair —
    // the m² loop then runs on primitive reads and the kernel only
    val width = structType.length
    val lens = new Array[Int](n)
    val rns = new Array[Int](n)
    val sss = new Array[ArrayData](n)
    var k = 0
    while (k < n) {
      val m = arr.getStruct(k, width)
      lens(k) = m.getInt(1)
      rns(k) = m.getInt(2)
      sss(k) = m.getArray(3)
      k += 1
    }
    new Iterator[InternalRow] {
      private var i = 0
      private var j = 1
      private var nextRow: InternalRow = null

      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null && i < n - 1) {
          val la = lens(i)
          val lb = lens(j)
          // length filter (both directions) then the PPJoin positional
          // prune — cheap integer arithmetic before any array touch
          if (SigKernels.lengthsCompatible(la, lb, threshold)) {
            val ra = rns(i)
            val rb = rns(j)
            if (math.min(ra, rb) + math.min(la - ra, lb - rb) >= reqOverlap(la, lb)) {
              val jac =
                if (ssElemIsLong) SigKernels.jaccardSortedLongMin(sss(i), sss(j), threshold)
                else SigKernels.jaccardSortedMin(sss(i), sss(j), threshold)
              if (jac >= threshold) {
                // copy ids out of the shared bucket buffer (UTF8String ids
                // would otherwise alias reused bytes); survivors only, so
                // the copies are ~true-pair volume
                val ida = InternalRow.copyValue(arr.getStruct(i, width).get(0, idType))
                val idb = InternalRow.copyValue(arr.getStruct(j, width).get(0, idType))
                val cmp = idOrdering.compare(ida, idb)
                if (cmp != 0) { // same-id members never pair (old a.id < b.id)
                  val out = new GenericInternalRow(3)
                  if (cmp < 0) { out(0) = ida; out(1) = idb }
                  else { out(0) = idb; out(1) = ida }
                  out(2) = jac
                  nextRow = out
                }
              }
            }
          }
          j += 1
          if (j >= n) { i += 1; j = i + 1 }
        }
      }

      advance()
      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        val r = nextRow
        advance()
        r
      }
    }
  }

  override def prettyName: String = "bucket_jaccard_pairs"
  override protected def withNewChildInternal(newChild: Expression): BucketJaccardPairs =
    copy(child = newChild)
}
