package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, TypeCoercion}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Mutable buffer for [[CosineTopKAggregate]]: `heaps` bounded heaps of at
  * most `k` entries each, stored flat (heap h owns slots h·k until h·k + k).
  * Each heap's root is its WORST entry, the one a better arrival evicts.
  * Ids are Catalyst values, all Java-serializable, and so is the buffer. */
final class CosineTopKBuffer(val heaps: Int, val k: Int) extends Serializable {
  val size = new Array[Int](heaps)
  val score = new Array[Double](heaps * k)
  val scoreNull = new Array[Boolean](heaps * k)
  val id = new Array[Any](heaps * k)
  val query = new Array[Int](heaps * k)
  val row = new Array[Long](heaps * k)
  /** Corpus rows this buffer has scored (tags each row; see `row`). */
  var rows = 0L
}

/** `graft_cosine_topk(k, corpus_id, query_ids, corpus_key, query_keys,
  * corpus_vec, query_vecs [, corpus_vec, query_vecs]...)`: exact cosine
  * top-k of a small, collected query batch over a corpus, without pair rows.
  *
  * `query_ids`, `query_keys` and every `query_vecs` are FOLDABLE arrays with
  * one element per query (the driver collects the query side and passes it
  * as literals). Each (`corpus_vec`, `query_vecs`) pair is one scorer; a
  * scorer scores corpus row r against query j as `graft_cosine(q_j, v_r)`.
  * `query_keys` NULL means no self-exclusion; otherwise the pair (j, r) is
  * skipped unless `query_keys[j] <> corpus_key(r)` is TRUE, so a NULL on
  * either side skips it, like the SQL predicate.
  *
  * Result: `ARRAY<ARRAY<ARRAY<STRUCT<query_id, corpus_id, score, query, row>>>>`
  * — per query-id group (in first-appearance order; groups with no
  * candidate are left out), per scorer, the group's top k pairs ranked by
  * (score DESC NULLS LAST, corpus_id ASC NULLS FIRST): the order of
  * `ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC,
  * corpus_id)`. Queries group by id VALUE, so duplicate ids share one
  * ranking. `query` is the query's index in the batch and `row` tags the
  * corpus row uniquely within one evaluation, so (query, row) names a pair
  * across the scorers' lists.
  *
  * Arithmetic: each query's vector and norm are materialized once per task;
  * each corpus row is decoded and its norm folded once per scorer; each
  * pair costs one dot fold and `dot / (sqrt(nq) * sqrt(nc))`. Every fold is
  * the same left-to-right double sum as [[CosineSimilarityExpr]] and the
  * denominator the same product, so every score is bit-identical to
  * `graft_cosine`, NULL rules included (NULL vector, NULL element,
  * mismatched dims, zero norm). Partial state is one k-bounded heap per
  * (query group, scorer) per corpus partition; the final merge sees
  * groups × scorers × k × partitions entries. [[CosineTopKAggregate.run]]
  * (the operators' entry point) evaluates it in one job and merges on the
  * driver; called from SQL text it plans as any aggregate: partials, a
  * single-partition exchange, the final merge. */
case class CosineTopKAggregate(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CosineTopKBuffer] {

  private def kExpr = children(0)
  private def corpusId = children(1)
  private def queryIds = children(2)
  private def corpusKey = children(3)
  private def queryKeys = children(4)
  private def scorerArgs = children.drop(5)
  @transient private lazy val corpusVecs = scorerArgs.grouped(2).map(_.head).toIndexedSeq
  @transient private lazy val queryVecs = scorerArgs.grouped(2).map(_(1)).toIndexedSeq

  override def prettyName: String = "graft_cosine_topk"
  override def nullable: Boolean = false

  private def queryIdType = queryIds.dataType.asInstanceOf[ArrayType]

  /** One ranked hit: the query's id, the corpus row's id, the score, the
    * query's index in the batch and the corpus row's tag. */
  private[plans] def hitType: StructType = StructType(Seq(
      StructField("query_id", queryIdType.elementType, queryIdType.containsNull),
      StructField("corpus_id", corpusId.dataType, corpusId.nullable),
      StructField("score", DoubleType, nullable = true),
      StructField("query", IntegerType, nullable = false),
      StructField("row", LongType, nullable = false)))

  override def dataType: DataType =
    ArrayType(ArrayType(ArrayType(hitType, containsNull = false), containsNull = false),
      containsNull = false)

  private def literalLength(e: Expression): Int =
    e.eval(null).asInstanceOf[ArrayData].numElements()

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"$prettyName: $msg")
    lazy val literals = queryIds +: queryVecs :++ (if (selfExcluded) Seq(queryKeys) else Nil)
    if (children.length < 7 || scorerArgs.length % 2 != 0)
      fail("expects k, corpus_id, query_ids, corpus_key, query_keys and " +
        "one or more (corpus_vec, query_vecs) pairs")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType ||
        kExpr.eval() == null || kExpr.eval().asInstanceOf[Int] < 1)
      fail("k must be a literal INT >= 1")
    else if (!RowOrdering.isOrderable(corpusId.dataType))
      fail(s"corpus_id type ${corpusId.dataType.simpleString} is not orderable")
    else if (!queryIds.dataType.isInstanceOf[ArrayType])
      fail("query_ids must be a foldable ARRAY")
    else if (selfExcluded && !(queryKeys.dataType match {
        case ArrayType(t, _) => t == corpusKey.dataType && RowOrdering.isOrderable(t)
        case _ => false
      }))
      fail("query_keys must be NULL or an ARRAY of corpus_key's orderable type")
    else if (!corpusVecs.forall(v => VecArgs.isVector(v.dataType)) ||
        !queryVecs.forall(v => VecArgs.isMatrix(v.dataType)))
      fail("each scorer is (ARRAY<FLOAT|DOUBLE>, foldable ARRAY<ARRAY<FLOAT|DOUBLE>>)")
    else if (!literals.forall(e => e.foldable && e.eval() != null))
      fail("query_ids, query_keys and query_vecs must be non-null literals")
    else if (literals.map(literalLength).distinct.length != 1)
      fail("query_ids, query_keys and every query_vecs need one element per query")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val k: Int = kExpr.eval().asInstanceOf[Int]
  @transient private lazy val selfExcluded: Boolean = queryKeys.dataType != NullType
  @transient private lazy val scorers: Int = scorerArgs.length / 2
  @transient private lazy val qIds: ArrayData = queryIds.eval().asInstanceOf[ArrayData]
  @transient private lazy val qType: DataType = queryIdType.elementType
  @transient private lazy val nQueries: Int = qIds.numElements()
  @transient private lazy val qKeys: Array[Any] =
    if (!selfExcluded) null
    else {
      val a = queryKeys.eval().asInstanceOf[ArrayData]
      Array.tabulate(nQueries)(j => a.get(j, corpusKey.dataType))
    }
  @transient private lazy val keyOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(corpusKey.dataType)
  @transient private lazy val idOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(corpusId.dataType)
  /** Per scorer, per query: the vector widened to doubles (null when NULL or
    * holding a NULL element) and its `sqrt(Σ x²)`. */
  @transient private lazy val qVecs: Array[Array[Array[Double]]] =
    queryVecs.map(VecArgs.vectors).toArray
  @transient private lazy val qNorms: Array[Array[Double]] =
    qVecs.map(_.map(v => if (v == null) 0.0 else math.sqrt(VecArgs.sumSquares(v))))
  @transient private lazy val cFloat: Array[Boolean] =
    corpusVecs.map(v => VecArgs.isFloat(v.dataType)).toArray
  /** Each query's id group: queries with equal ids (floats normalized the
    * way Spark's partitioning normalizes them) share one. */
  @transient private lazy val groupOf: Array[Int] = {
    val seen = new java.util.HashMap[Any, Integer]()
    Array.tabulate(nQueries) { j =>
      val key = qIds.get(j, qType) match {
        case d: Double => if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d
        case f: Float => if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
        case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
        case other => other
      }
      seen.computeIfAbsent(key, _ => seen.size).intValue
    }
  }
  @transient private lazy val groups: Int = if (nQueries == 0) 0 else groupOf.max + 1

  override def createAggregationBuffer(): CosineTopKBuffer =
    new CosineTopKBuffer(groups * scorers, k)

  /** > 0 when (score sa, id ia) ranks AFTER (sb, ib). */
  private def compare(sa: Double, na: Boolean, ia: Any,
                      sb: Double, nb: Boolean, ib: Any): Int =
    if (na != nb) { if (na) 1 else -1 }
    else {
      val c = if (na) 0 else SQLOrderingUtil.compareDoubles(sb, sa)
      if (c != 0) c
      else if (ia == null) { if (ib == null) 0 else -1 }
      else if (ib == null) 1
      else idOrdering.compare(ia, ib)
    }

  private def worse(b: CosineTopKBuffer, x: Int, y: Int): Boolean =
    compare(b.score(x), b.scoreNull(x), b.id(x), b.score(y), b.scoreNull(y), b.id(y)) > 0

  private def swap(b: CosineTopKBuffer, x: Int, y: Int): Unit = {
    val s = b.score(x); b.score(x) = b.score(y); b.score(y) = s
    val n = b.scoreNull(x); b.scoreNull(x) = b.scoreNull(y); b.scoreNull(y) = n
    val i = b.id(x); b.id(x) = b.id(y); b.id(y) = i
    val q = b.query(x); b.query(x) = b.query(y); b.query(y) = q
    val r = b.row(x); b.row(x) = b.row(y); b.row(y) = r
  }

  /** Offer a candidate to heap `h`: kept while the heap has room, else only
    * when it ranks before the root (`id` is copied only when kept). */
  private def offer(b: CosineTopKBuffer, h: Int, score: Double, isNull: Boolean,
                    id: Any, query: Int, row: Long): Unit = {
    val base = h * k
    val n = b.size(h)
    var at = 0
    if (n < k) {
      at = n
      b.size(h) = n + 1
    } else if (compare(score, isNull, id, b.score(base), b.scoreNull(base), b.id(base)) >= 0) {
      return
    }
    b.score(base + at) = score
    b.scoreNull(base + at) = isNull
    b.id(base + at) = InternalRow.copyValue(id)
    b.query(base + at) = query
    b.row(base + at) = row
    if (n < k) { // sift the new leaf up
      while (at > 0 && worse(b, base + at, base + (at - 1) / 2)) {
        swap(b, base + at, base + (at - 1) / 2)
        at = (at - 1) / 2
      }
    } else { // sift the new root down
      var done = false
      while (!done) {
        val l = 2 * at + 1
        var w = at
        if (l < n && worse(b, base + l, base + w)) w = l
        if (l + 1 < n && worse(b, base + l + 1, base + w)) w = l + 1
        if (w == at) done = true
        else { swap(b, base + at, base + w); at = w }
      }
    }
  }

  override def update(buf: CosineTopKBuffer, input: InternalRow): CosineTopKBuffer = {
    val id = corpusId.eval(input)
    val key = if (selfExcluded) corpusKey.eval(input) else null
    // partition id in the high bits: unique per corpus row within one evaluation
    val row = (TaskContext.getPartitionId().toLong << 40) | buf.rows
    buf.rows += 1
    var s = 0
    while (s < scorers) {
      val v = VecArgs.decode(corpusVecs(s).eval(input), cFloat(s))
      val nc = if (v == null) 0.0 else math.sqrt(VecArgs.sumSquares(v))
      val qs = qVecs(s)
      val norms = qNorms(s)
      var j = 0
      while (j < nQueries) {
        if (!selfExcluded || (key != null && qKeys(j) != null &&
            !keyOrdering.equiv(key, qKeys(j)))) {
          val q = qs(j)
          var score = 0.0
          var isNull = v == null || q == null || q.length != v.length
          if (!isNull) {
            var dot = 0.0
            var i = 0
            while (i < v.length) { dot += q(i) * v(i); i += 1 }
            val denom = norms(j) * nc
            if (denom == 0.0) isNull = true else score = dot / denom
          }
          offer(buf, groupOf(j) * scorers + s, score, isNull, id, j, row)
        }
        j += 1
      }
      s += 1
    }
    buf
  }

  override def merge(a: CosineTopKBuffer, b: CosineTopKBuffer): CosineTopKBuffer = {
    var h = 0
    while (h < b.heaps) {
      var e = h * k
      while (e < h * k + b.size(h)) {
        offer(a, h, b.score(e), b.scoreNull(e), b.id(e), b.query(e), b.row(e))
        e += 1
      }
      h += 1
    }
    a
  }

  override def eval(buf: CosineTopKBuffer): Any = {
    val out = (0 until groups).filter(g => buf.size(g * scorers) > 0).map { g =>
      new GenericArrayData((0 until scorers).map { s =>
        val h = g * scorers + s
        val ranked = (h * k until h * k + buf.size(h)).sortWith((x, y) => worse(buf, y, x))
        new GenericArrayData(ranked.map { e =>
          InternalRow(qIds.get(buf.query(e), qType), buf.id(e),
            if (buf.scoreNull(e)) null else buf.score(e), buf.query(e), buf.row(e))
        })
      })
    }
    new GenericArrayData(out)
  }

  // Spark's closure serializer resolves classes through the task's loader
  override def serialize(buf: CosineTopKBuffer): Array[Byte] = {
    val bytes = SparkEnv.get.closureSerializer.newInstance().serialize(buf)
    val out = new Array[Byte](bytes.remaining())
    bytes.get(out)
    out
  }

  override def deserialize(bytes: Array[Byte]): CosineTopKBuffer =
    SparkEnv.get.closureSerializer.newInstance()
      .deserialize[CosineTopKBuffer](ByteBuffer.wrap(bytes))

  override def withNewMutableAggBufferOffset(offset: Int): CosineTopKAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CosineTopKAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CosineTopKAggregate =
    copy(children = newChildren)
}

object CosineTopKAggregate {
  /** Exact cosine top-k of a small query batch over `corpus`, with one
    * scorer per (`corpusVecs(s)`, `queryVecs(s)`) pair; both are columns of
    * their frames. The query side (`queryId`, `queryVecs`) is collected
    * here and becomes the aggregate's literal arguments. The corpus is then
    * scanned by ONE job: each partition folds its rows into a partial
    * buffer of k-bounded heaps, and the driver merges the partials and
    * ranks them. No exchange, no pair row.
    *
    * With `excludeSelf`, ids are compared in the common type Spark's `=!=`
    * would coerce them to. Returns the hits — per query-id group, per
    * scorer, ranked (see the class doc) — and their row type. */
  def run(corpus: DataFrame, corpusId: Column, corpusVecs: Seq[Column],
          queries: DataFrame, queryId: Column, queryVecs: Seq[Column],
          k: Int, excludeSelf: Boolean): (Seq[Seq[Seq[Row]]], StructType) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val keyType = if (!excludeSelf) None else {
      val (q, c) = (queries.select(queryId).schema.head.dataType,
        corpus.select(corpusId).schema.head.dataType)
      Some(if (q == c) c else TypeCoercion.findWiderTypeForTwo(q, c).getOrElse(
        throw new IllegalArgumentException(s"excludeSelf: query ids (${q.simpleString}) " +
          s"and corpus ids (${c.simpleString}) are not comparable")))
    }
    val side = queries.select(queryId +: queryVecs ++: keyType.map(queryId.cast).toSeq: _*)
    val collected = side.collect()
    val lits = side.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      literal(collected.toSeq.map(_.get(i)), f)
    }
    val input = corpus.select(corpusId +: keyType.map(corpusId.cast).toSeq ++: corpusVecs: _*)
    val cols = input.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    }
    val (corpusKey, queryKeys) =
      if (keyType.isDefined) (cols(1), lits.last) else (Literal(null), Literal(null))
    val scorers = cols.takeRight(corpusVecs.length).zip(lits.slice(1, 1 + queryVecs.length))
    val agg = CosineTopKAggregate(Seq(Literal(k), cols.head, lits.head, corpusKey, queryKeys) ++
      scorers.flatMap { case (c, q) => Seq(c, q) })
    val check = agg.checkInputDataTypes()
    require(check.isSuccess, check)
    val qe = input.queryExecution
    val partials = SQLExecution.withNewExecutionId(qe, Some(agg.prettyName)) {
      qe.toRdd.mapPartitions { rows =>
        val buf = agg.createAggregationBuffer()
        rows.foreach(agg.update(buf, _))
        Iterator.single(agg.serialize(buf))
      }.collect()
    }
    val merged = partials.iterator.map(agg.deserialize).reduceOption(agg.merge)
      .getOrElse(agg.createAggregationBuffer())
    val hits = CatalystTypeConverters.convertToScala(agg.eval(merged), agg.dataType)
    (hits.asInstanceOf[Seq[Seq[Seq[Row]]]], agg.hitType)
  }

  /** One collected column of the query side (`values`, typed by `field`) as
    * a single compact foldable array literal: unsafe-encoded, so a task
    * deserializes one byte blob rather than a tree of boxed values. */
  private def literal(values: Seq[Any], field: StructField): Literal = {
    val t = ArrayType(field.dataType, field.nullable)
    val boxed = Literal.create(values, t).value
    Literal(UnsafeProjection.create(Array[DataType](t))
      .apply(InternalRow(boxed)).getArray(0).copy(), t)
  }
}
