package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  RowOrdering, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed column classification with a job count that does not
  * grow with the column count.
  *
  * The reference computes its classification with N independent full
  * scans per column (nunique, infer_dtype, unique — reference
  * dataset.py:267,339-341,528). Here the default (approx) strategy is
  * ONE Spark job with no exchange, whatever the column count: a
  * codegen'd projection carries each column's value, its castability
  * and its {0,1} flag ([[statsColumns]]), each task folds its rows into
  * [[Counters]], and the driver merges the task results. The job is
  * named `Inference.classify: <columns>`. `exact = true` runs one
  * narrow-pair aggregation instead.
  *
  * Scale note (100 TB): with `exact = false` (default) distinct counts
  * are Spark's own HyperLogLog++ sketch (`approx_count_distinct`'s
  * aggregate, folded by hand), so no multi-count-distinct rewrite and
  * no shuffle: a task ships a few counters and 52 longs per column.
  * Constant detection never needs a distinct count: a column is
  * constant-including-null iff (no nulls ∧ min == max) ∨ (all null).
  */
object Inference {

  private def isNumericType(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** The projection [[Counters]] folds: three columns per field, at
    * ordinals 3i (the value), 3i + 1 (castable to double: strings
    * through [[graft.functions.SafeCast]], every other type true) and
    * 3i + 2 (the value is one of {0, 1} — as a number for numeric
    * types, as its string otherwise; booleans always are).
    */
  private[graft] def statsColumns(fields: Seq[StructField]): Seq[Column] =
    fields.zipWithIndex.flatMap { case (field, i) =>
      val c = col(field.name)
      val castable = field.dataType match {
        case StringType =>
          graft.functions.SafeCast.tryCastDouble(c).isNotNull
        case _          => lit(true)
      }
      val zeroOne = field.dataType match {
        case BooleanType             => lit(true)
        case dt if isNumericType(dt) => c === 0 || c === 1
        case _ => c.cast("string")
          .isin("0", "1", "0.0", "1.0", "true", "false")
      }
      Seq(c.as(s"__s$i"), castable.as(s"__c$i"), zeroOne.as(s"__z$i"))
    }

  /** The approx counters of k columns of the [[statsColumns]]
    * projection: one task's rows ([[add]]), or every task's
    * ([[merge]] on the driver).
    *
    *  - total, non-null, castable counts; has-null; all non-null
    *    values in {0, 1};
    *  - the first non-null value and whether every other one equals it
    *    under the type's ordering — what `min(c) <=> max(c)` decides
    *    (NaN equals NaN, -0.0 equals 0.0, collations compare by
    *    collation);
    *  - one buffer of Spark's `HyperLogLogPlusPlus` aggregate at the
    *    default relative error, so the estimate is
    *    `approx_count_distinct`'s, bit for bit.
    */
  private[graft] final class Counters(types: Array[DataType])
      extends Serializable {
    private val k = types.length
    private var total = 0L
    private val nn, cab = new Array[Long](k)
    private val hn = new Array[Boolean](k)
    private val zo, allEqual = Array.fill(k)(true)
    private val first = new Array[Any](k)
    @transient private lazy val hlls = types.indices.map { i =>
      val h = new HyperLogLogPlusPlus(
        BoundReference(3 * i, types(i), nullable = true))
      h.withNewMutableAggBufferOffset(i * h.aggBufferAttributes.size)
        .withNewInputAggBufferOffset(i * h.aggBufferAttributes.size)
    }
    // per column, on its second non-null value: a void column has none
    @transient private lazy val orderings =
      new Array[Ordering[Any]](k)
    private def ordering(i: Int): Ordering[Any] = {
      if (orderings(i) == null)
        orderings(i) = TypeUtils.getInterpretedOrdering(types(i))
      orderings(i)
    }
    private val sketches = new SpecificInternalRow(
      hlls.flatMap(_.aggBufferAttributes.map(_.dataType)))
    hlls.foreach(_.initialize(sketches))

    def add(r: InternalRow): Unit = {
      total += 1
      var i = 0
      while (i < k) {
        val at = 3 * i
        if (r.isNullAt(at)) hn(i) = true
        else {
          nn(i) += 1
          if (r.getBoolean(at + 1)) cab(i) += 1
          if (!r.getBoolean(at + 2)) zo(i) = false
          hlls(i).update(sketches, r)
          if (first(i) == null)
            first(i) = InternalRow.copyValue(r.get(at, types(i)))
          else if (allEqual(i) &&
              ordering(i).compare(first(i), r.get(at, types(i))) != 0)
            allEqual(i) = false
        }
        i += 1
      }
    }

    def merge(o: Counters): Unit = {
      total += o.total
      for (i <- 0 until k) {
        nn(i) += o.nn(i)
        cab(i) += o.cab(i)
        hn(i) ||= o.hn(i)
        zo(i) &&= o.zo(i)
        if (first(i) == null) {
          first(i) = o.first(i)
          allEqual(i) = o.allEqual(i)
        } else if (o.first(i) != null)
          allEqual(i) &&= o.allEqual(i) &&
            ordering(i).compare(first(i), o.first(i)) == 0
        hlls(i).merge(sketches, o.sketches)
      }
    }

    private[core] def raw: Seq[RawStats] = (0 until k).map { i =>
      RawStats(total, nn(i), hlls(i).eval(sketches).asInstanceOf[Long],
        hn(i), allEqual(i), cab(i), zo(i) && nn(i) > 0)
    }
  }

  /** Monotonic counter of classification scans that count distinct
    * values — lets specs pin one per classify call (not one per
    * column), and the reuse of a computed classification, without
    * depending on AQE-sensitive Spark job counts.
    */
  private[graft] val distinctJobCount =
    new java.util.concurrent.atomic.AtomicLong

  /** Raw per-column counters, produced by either scan strategy. */
  private[core] case class RawStats(total: Long, nn: Long, nd: Long,
      hn: Boolean, cst: Boolean, cab: Long, zo: Boolean)

  /** The fields of `df` named in `cols` (every field when empty), for
    * the approx counters: a type Spark cannot order (a map) is refused
    * with the analysis error of the `min` that decides constancy. */
  private[graft] def approxFields(df: DataFrame, cols: Seq[String])
      : Seq[StructField] = {
    val fields = fieldsOf(df, cols)
    fields.filterNot(f => RowOrdering.isOrderable(f.dataType))
      .foreach(f => df.select(min(col(f.name))))
    fields
  }

  private def fieldsOf(df: DataFrame, cols: Seq[String])
      : Seq[StructField] =
    if (cols.isEmpty) df.schema.fields.toSeq
    else df.schema.fields.toSeq.filter(f => cols.contains(f.name))

  /** Approx strategy (default): the one-job fold of [[Counters]]. No
    * exchange: the 100 TB path.
    */
  private def approxRawStats(df: DataFrame, fields: Seq[StructField])
      : Map[String, RawStats] = if (fields.isEmpty) Map.empty else {
    val types = fields.map(_.dataType).toArray
    val all = new Counters(types)
    distinctJobCount.incrementAndGet()
    DriverJobs.scan(df.select(statsColumns(fields): _*),
        s"Inference.classify: ${fields.map(_.name).mkString(",")}",
        "classification") { rows =>
      val c = new Counters(types)
      rows.foreach(c.add)
      c
    }(all.merge)
    fields.map(_.name).zip(all.raw).toMap
  }

  /** Exact strategy: ONE job, one scan, regardless of column count.
    * Each row explodes to narrow (column ordinal, canonical string)
    * pairs; a map-side partial aggregate collapses them to distinct
    * (ordinal, value, multiplicity) triples before the shuffle; every
    * counter classify needs — distinct count, null counts, constancy,
    * castability, {0,1}-ness — then derives from one tiny second
    * aggregate over those triples. Alternatives measured at sf0.1×11
    * columns: Catalyst's Expand multi-distinct rewrite 2× slower
    * (expanded rows carry the full N-column nullable schema; these
    * carry two fields), N concurrent per-column jobs slightly faster
    * at small N but N footer-reads + N job schedules — a 500-column
    * table must not launch 500 jobs. Shuffle volume is the sum of
    * per-column distinct counts: inherent to any exact formulation.
    */
  private def exactRawStats(df: DataFrame, fields: Seq[StructField])
      : Map[String, RawStats] = {
    distinctJobCount.incrementAndGet()
    val keyed = fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        // string cast of raw bytes is lossy (invalid UTF-8 collapses
        // to replacement chars); base64 is injective
        case BinaryType => base64(c)
        // +0.0 normalizes -0.0 (IEEE: -0.0 + 0.0 = +0.0) so the string
        // key agrees with aggregate semantics, where
        // NormalizeFloatingNumbers makes -0.0 == 0.0
        case DoubleType => (c + lit(0d)).cast("string")
        case FloatType  => (c + lit(0f)).cast("string")
        // complex types: JSON per value (structs/arrays; maps are not
        // group-able in Spark, matching countDistinct's own refusal)
        case _: ArrayType | _: StructType =>
          when(c.isNull, lit(null)).otherwise(to_json(struct(c)))
        // maps render entries in storage order, so logically-equal
        // maps with different key order would count as distinct values;
        // canonicalize by sorting entries on key first. (Maps nested
        // INSIDE a struct/array keep storage order — same residual
        // caveat as to_json itself.)
        case _: MapType =>
          val sorted = array_sort(map_entries(c), (l, r) =>
            when(l("key") < r("key"), -1)
              .when(l("key") > r("key"), 1).otherwise(0))
          when(c.isNull, lit(null)).otherwise(to_json(struct(sorted)))
        // atomic casts render one canonical string per value
        case _ => c.cast("string")
      }
    }
    val v = col("__v")
    val castableNum = graft.functions.SafeCast.tryCastDouble(v)
    val perCol = df
      .select(posexplode(array(keyed: _*)).as(Seq("__p", "__v")))
      .groupBy(col("__p"), v).agg(count(lit(1)).as("__cnt"))
      .groupBy(col("__p")).agg(
        sum(col("__cnt")).cast("long").as("total"),
        coalesce(sum(when(v.isNotNull, col("__cnt"))), lit(0L))
          .cast("long").as("nn"),
        count(v).cast("long").as("nd"),
        max(v.isNull.cast("int")).as("hn"),
        coalesce(sum(when(castableNum.isNotNull, col("__cnt"))), lit(0L))
          .cast("long").as("cab"),
        // both {0,1} readings; the field's type picks one driver-side
        min(when(v.isNotNull, castableNum.isin(0d, 1d).cast("int")))
          .as("zo_num"),
        min(when(v.isNotNull,
          v.isin("0", "1", "0.0", "1.0", "true", "false").cast("int")))
          .as("zo_str"))
      .collect().map(r => r.getAs[Int]("__p") -> r).toMap
    fields.zipWithIndex.map { case (f, i) =>
      perCol.get(i) match {
        case None => f.name -> RawStats(0L, 0L, 0L, hn = false,
          cst = false, cab = 0L, zo = false) // empty frame
        case Some(r) =>
          val nn = r.getAs[Long]("nn")
          val zo = f.dataType match {
            case BooleanType             => nn > 0
            case dt if isNumericType(dt) =>
              Option(r.getAs[Any]("zo_num")).exists(_ == 1)
            case _ =>
              Option(r.getAs[Any]("zo_str")).exists(_ == 1)
          }
          f.name -> RawStats(
            total = r.getAs[Long]("total"),
            nn  = nn,
            nd  = r.getAs[Long]("nd"),
            hn  = Option(r.getAs[Any]("hn")).exists(_ == 1),
            cst = r.getAs[Long]("nd") == 1L,
            // castability-to-numeric only means something for string
            // columns; others count every non-null as castable, the
            // same contract as [[statsColumns]]
            cab = f.dataType match {
              case StringType => r.getAs[Long]("cab")
              case _          => nn
            },
            zo = zo)
      }
    }.toMap
  }

  /** Classify every column of `df` (or `cols` if given).
    *
    * `exact = false` (default) runs the one-job approx strategy —
    * shuffle-free, HLL distincts, the right shape at 100 TB (no job
    * when no column is named). `exact = true` runs ONE narrow-pair job
    * whose shuffle is the sum of per-column distinct counts — exact
    * answers at the inherent exact price, but never N scans or N jobs
    * for N columns.
    */
  def classify(
      df: DataFrame,
      cols: Seq[String] = Seq.empty,
      exact: Boolean = false
  ): ColumnClassification = {
    if (exact) {
      val fields = fieldsOf(df, cols)
      classification(fields, exactRawStats(df, fields))
    } else {
      val fields = approxFields(df, cols)
      classification(fields, approxRawStats(df, fields))
    }
  }

  /** The classification of `fields` from counters a fused job gathered
    * with [[statsColumns]] and [[Counters]]. */
  private[graft] def classification(fields: Seq[StructField],
      counters: Counters): ColumnClassification =
    classification(fields, fields.map(_.name).zip(counters.raw).toMap)

  private def classification(fields: Seq[StructField],
      raw: Map[String, RawStats]): ColumnClassification = {
    val stats = fields.map { f =>
      val r = raw(f.name)
      val allNull  = r.nn == 0L
      val constant = allNull || (!r.hn && r.cst)
      f.name -> ColumnStats(f.name, f.dataType.sql, r.total, r.nn, r.nd,
        r.hn, constant, r.cab, r.zo && r.nn > 0)
    }.toMap

    val kinds = fields.map { f =>
      val s = stats(f.name)
      val kind: ColumnKind = f.dataType match {
        case BooleanType               => ColumnKind.Bool
        case dt if isNumericType(dt)   =>
          if (s.onlyZeroOne) ColumnKind.Bool else ColumnKind.Numerical
        case StringType =>
          // Sub-classify strings the way the reference classifies
          // object columns (dataset.py:56-101): all-castable → the
          // column is "actually numeric"; partially castable → mixed;
          // {0,1}-valued → bool.
          if (s.nNotNull == 0) ColumnKind.Str
          else if (s.onlyZeroOne) ColumnKind.Bool
          else if (s.castableToNum == s.nNotNull) ColumnKind.Numerical
          else if (s.castableToNum > 0) ColumnKind.Mixed
          else ColumnKind.Str
        case _ => ColumnKind.Other
      }
      f.name -> kind
    }.toMap

    val categorical = fields.collect {
      case f
          if {
            val s = stats(f.name)
            val k = kinds(f.name)
            (k == ColumnKind.Str || k == ColumnKind.Numerical) &&
            s.nNotNull > 0 &&
            (s.nDistinct < Thresholds.CategUniqueMax ||
              s.nDistinct < s.nNotNull / Thresholds.CategColThreshold)
          } =>
        f.name
    }.toSet

    val constant = stats.collect { case (c, s) if s.isConstant => c }.toSet
    val mixed    = kinds.collect { case (c, ColumnKind.Mixed) => c }.toSet
    ColumnClassification(stats, kinds, categorical, constant, mixed)
  }
}
