package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Bounded top-k aggregate — the map-side replacement for rank-window
  * shapes over CANDIDATE EXPANSIONS (the round-14 verdict's named fix
  * for the ANN-expansion shuffle-scratch ENOSPC):
  *
  *   row_number().over(Window.partitionBy(g).orderBy(key DESC)) <= k
  *     ≡  posexplode(collect_topk(key, k, reverse=false)), rank = pos+1
  *
  * The window form must SORT the whole expansion within each task and
  * shuffle EVERY expanded row into the rank exchange (WindowGroupLimit
  * trims per-partition only after a full local sort of the stream);
  * this aggregate instead folds each map task down to one k-element
  * buffer per group before the exchange — the shuffle carries
  * ≤ |groups|·k rows regardless of expansion width, and nothing sorts
  * the expansion at all (each row does one O(log k) heap probe).
  * For the n·wc·fine ANN final-assignment expansion that is ~an order
  * of magnitude less shuffle scratch for bit-identical output.
  *
  * Semantics (law-tested against the window form in TopKSpec):
  * ordering is the child type's natural ordering (structs compare
  * lexicographically field by field — encode DESC tie-breaks as
  * negated fields, exactly like the max_by sites); the result array
  * holds the k extreme values sorted best-first:
  *   reverse=false → the k LARGEST, descending
  *   reverse=true  → the k SMALLEST, ascending
  * so element i (0-based) is the row_number = i+1 row of the
  * equivalent window. Nulls are skipped (collect_* convention; every
  * call site feeds non-null keys). Same design as Spark's own
  * private[sql] CollectTopK (the pandas-on-Spark nlargest kernel),
  * grafted here because that class is not accessible outside
  * org.apache.spark.sql.
  */
/** Size-adaptive cutover for the rank-window → collect_topk rewrite
  * (the RankSelect.aggregateSafeBytes idiom): below the threshold the
  * WINDOW form is used — measured 1.1-1.6× faster at bench SFs, where
  * the expansion fits memory and WindowGroupLimit's codegen sort beats
  * this aggregate's boxed per-row buffers — and above it the
  * collect_topk form takes over, because sorting a corpus-scale
  * candidate expansion inside the partial window is exactly the
  * shuffle-scratch that ENOSPC'd the sf100 ANN runs (BASELINE/SCALE
  * round-14). A wrong-side decision changes only the PLAN, never the
  * result: both forms emit identical rows (TopKSpec + the per-site
  * Round17OpsSpec/Round18OpsSpec parity). Gate on the CORPUS-side
  * frame's optimizer size estimate (the expansion's own join estimate
  * is not trustworthy). `perGroup` is the one operator that writes
  * both forms; call sites pick the arm with `engage`.
  */
object TopKAgg {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  /** Cutover estimate, re-fitted from the r16 dedicated-JVM A/B runs
    * (SCALE.md "Round-17: engaged collect_topk measured"): at sf30
    * (234 MB corpus estimate) the window form's expansion sort still
    * fits the box and beats the aggregate's per-row buffer work on
    * every measured site, while at sf100 (~780 MB) the window form is
    * a measured ENOSPC (twice, r14) and the aggregate completes — so
    * the line sits between those decades, not at the r15 guess of
    * 128 MiB (which engaged sf30 early and cost q_ann_ivf_cells 2.4×).
    */
  val engageBytes: Long = 1L << 29

  private val forced = ThreadLocal.withInitial[Option[Boolean]](() => None)

  /** Runs `body` with `engage` answering `agg` (true: the collect_topk
    * arm) on this thread only — how specs compare both arms. Not a
    * session conf, so no user can set it, and a statement built on
    * another thread (a child thread included) never sees it.
    */
  private[graft] def forcing[A](agg: Boolean)(body: => A): A = {
    val saved = forced.get
    forced.set(Some(agg))
    try body finally forced.set(saved)
  }

  /** Branch selector for the rank-window ⇄ collect_topk rewrite. This
    * consults the corpus frame's optimizer estimate, which forces an
    * analysis+optimization pass of that sub-frame on the driver — call
    * it once per statement build and pass the Boolean to every
    * `perGroup` stage of that statement.
    */
  def engage(corpus: DataFrame): Boolean =
    forced.get.getOrElse(
      corpus.queryExecution.optimizedPlan.stats.sizeInBytes > engageBytes)

  /** `order` direction flags: `"d" -> Asc`, `"cos" -> Desc`. */
  final val Asc = false
  final val Desc = true

  /** The k first rows of each `by` group under `order` (Hive's
    * per-group top-N, the job `TopNKeyOperator` does), in one of two
    * plans that emit the same rows:
    *
    *  - window arm (`agg = false`):
    *    `row_number() OVER (PARTITION BY by ORDER BY order) <= k`,
    *    which Spark plans as a partial WindowGroupLimit before the
    *    exchange;
    *  - aggregate arm (`agg = true`):
    *    `posexplode(collect_topk(struct(keys…, carry…), k, reverse))`,
    *    which folds each map task to k-row buffers per group.
    *
    * Output columns: `by`, the `order` keys, `carry`, then `rank`
    * (the 1-based row_number, int) when given. Callers rename and cast
    * after the call.
    *
    * TOTAL ORDER REQUIRED: the last `order` key must be unique within
    * a group. collect_topk keeps the incumbent on a comparison tie, so
    * with ties at the k-th row the two arms (and two partitionings of
    * the aggregate arm) may keep different rows. Keys must be non-null.
    * A key whose direction differs from the first key's is stored
    * negated in the struct (struct order is ascending field by field),
    * so it must be numeric.
    */
  def perGroup(
      df: DataFrame,
      by: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int,
      carry: Seq[String] = Nil,
      rank: Option[String] = None,
      agg: Boolean): DataFrame = {
    val keys = order.map(_._1)
    if (!agg) {
      val w = Window.partitionBy(by.map(col): _*).orderBy(order.map {
        case (c, desc) => if (desc) col(c).desc else col(c)
      }: _*)
      val rn = rank.getOrElse("_topk_rn")
      df.withColumn(rn, row_number().over(w))
        .filter(col(rn) <= k)
        .select((by ++ keys ++ carry ++ rank).map(col): _*)
    } else {
      val firstDesc = order.head._2
      val flipped = order.map(_._2 != firstDesc)
      val fields = order.zip(flipped).map {
        case ((c, _), neg) => if (neg) (-col(c)).as(c) else col(c)
      } ++ carry.map(col)
      val top = df.groupBy(by.map(col): _*)
        .agg(call_function("collect_topk", struct(fields: _*), lit(k),
          lit(!firstDesc)).as("_topk"))
      val rows =
        if (rank.isDefined)
          posexplode(col("_topk")).as(Seq("_topk_pos", "_topk_row"))
        else explode(col("_topk")).as("_topk_row")
      def field(c: String) = col(s"_topk_row.$c")
      top.select(by.map(col) :+ rows: _*)
        .select(by.map(col) ++ keys.zip(flipped).map {
          case (c, neg) => (if (neg) -field(c) else field(c)).as(c)
        } ++ carry.map(c => field(c).as(c)) ++
          rank.map(r => (col("_topk_pos") + 1).as(r)): _*)
    }
  }
}

case class TopKAgg(
    child: Expression,
    k: Int,
    reverse: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.PriorityQueue[Any]]
    with UnaryLike[Expression] {

  require(k > 0, s"collect_topk k must be positive, got $k")

  override def prettyName: String = "collect_topk"
  override def dataType: DataType = ArrayType(child.dataType, false)
  override def nullable: Boolean = false

  // "Better" = greater per this ordering; the heap keeps the k best.
  // CODEGEN'D for struct children (r16): the expansion sites feed
  // struct(key, tiebreaks) and the interpreted struct ordering paid an
  // allocation-heavy reflective walk PER COMPARISON on tens of
  // millions of expansion rows (sf30 profile — the bulk of the agg
  // branch's premium over the window's codegen sort). A generated
  // ordering over the struct fields is the same total order, compiled.
  @transient private lazy val ord: Ordering[Any] = {
    val base = child.dataType match {
      case st: org.apache.spark.sql.types.StructType =>
        // Same total order as the interpreted struct ordering (field
        // by field, ascending, nulls first), compiled once per task.
        val gen = org.apache.spark.sql.catalyst.expressions.codegen
          .LazilyGeneratedOrdering.forSchema(st)
        new Ordering[Any] {
          override def compare(x: Any, y: Any): Int =
            gen.compare(x.asInstanceOf[InternalRow],
              y.asInstanceOf[InternalRow])
        }
      case _ => TypeUtils.getInterpretedOrdering(child.dataType)
    }
    if (reverse) base.reverse else base
  }

  // Min-heap of the kept elements (head = worst kept): a new value
  // displaces the head when it beats it — O(log k) per row, no sort.
  override def createAggregationBuffer(): java.util.PriorityQueue[Any] =
    new java.util.PriorityQueue[Any](k, ord)

  // Copy-on-KEEP (r16): eval of struct/array children returns a REUSED
  // buffer row, so a kept element must own its bytes — but the common
  // case once the heap is full is REJECTION, and the old
  // copy-then-offer paid the allocation for every expansion row. The
  // keep test reads the (valid, reused) buffer, and only a winner is
  // copied — for a random-order stream of m rows per group the
  // expected copies drop from m to ~k·(1 + ln(m/k)).
  private def offerCopying(b: java.util.PriorityQueue[Any], v: Any): Unit =
    if (b.size < k) { b.offer(InternalRow.copyValue(v)); () }
    else if (ord.compare(v, b.peek) > 0) {
      b.poll(); b.offer(InternalRow.copyValue(v)); ()
    }

  // Merge path: elements from a deserialized/peer buffer already own
  // their bytes — no copy.
  private def offerOwned(b: java.util.PriorityQueue[Any], v: Any): Unit =
    if (b.size < k) { b.offer(v); () }
    else if (ord.compare(v, b.peek) > 0) { b.poll(); b.offer(v); () }

  override def update(
      b: java.util.PriorityQueue[Any], input: InternalRow): java.util.PriorityQueue[Any] = {
    val v = child.eval(input)
    if (v != null) offerCopying(b, v)
    b
  }

  override def merge(
      b: java.util.PriorityQueue[Any],
      o: java.util.PriorityQueue[Any]): java.util.PriorityQueue[Any] = {
    val it = o.iterator()
    while (it.hasNext) offerOwned(b, it.next())
    b
  }

  override def eval(b: java.util.PriorityQueue[Any]): Any = {
    val arr = b.toArray
    java.util.Arrays.sort(arr, ord.reverse.asInstanceOf[java.util.Comparator[Any]])
    new GenericArrayData(arr)
  }

  // Shuffle form: length-prefixed UnsafeRow bytes per element (the
  // Collect serializer shape) — element type is child.dataType.
  @transient private lazy val proj =
    UnsafeProjection.create(Array[DataType](child.dataType))

  override def serialize(b: java.util.PriorityQueue[Any]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(b.size)
    val it = b.iterator()
    while (it.hasNext) {
      val bytes = proj(InternalRow(it.next())).getBytes // getBytes copies
      dos.writeInt(bytes.length)
      dos.write(bytes)
    }
    dos.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Any] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val q = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val arr = new Array[Byte](len)
      in.readFully(arr)
      val r = new UnsafeRow(1)
      r.pointTo(arr, len)
      q.offer(InternalRow.copyValue(r.get(0, child.dataType)))
      i += 1
    }
    q
  }

  override def withNewMutableAggBufferOffset(n: Int): TopKAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): TopKAgg =
    copy(child = c)
}
