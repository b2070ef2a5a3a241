package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed column classification with a job count that does not
  * grow with the column count.
  *
  * The reference computes its classification with N independent full
  * scans per column (nunique, infer_dtype, unique — reference
  * dataset.py:267,339-341,528). Here the default (approx) strategy runs
  * two CONCURRENT aggregations over the frame, whatever the column
  * count: the counters (~7 aggregate expressions per column, one
  * codegen'd HashAggregate) and the HLL distinct counts, each partially
  * aggregated map-side. Each is a map stage plus a final stage, so a
  * listener sees 4 Spark jobs (`Inference.classify: counters` and
  * `Inference.classify: distinct counts`). `exact = true` runs one
  * narrow-pair aggregation instead.
  *
  * Scale note (100 TB): with `exact = false` (default) distinct counts
  * use HyperLogLog (`approx_count_distinct`) which keeps the plan free
  * of the `Expand`-based multi-count-distinct rewrite (that rewrite
  * multiplies scan output by the number of distinct aggregates — fatal
  * at scale). Constant detection never needs a distinct count: a column
  * is constant-including-null iff (no nulls ∧ min == max) ∨ (all null).
  */
object Inference {

  private def isNumericType(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** Aggregate expressions for one column; must stay aligned with the
    * unpacking in [[classify]].
    *
    * NO distinct count here — on purpose, twice over: N exact
    * `countDistinct`s in one agg trigger Catalyst's Expand-based
    * multi-distinct rewrite (scan output × N+1 — fatal at scale), and
    * even the HLL sketch is a TypedImperativeAggregate, which forces
    * the WHOLE operator onto ObjectHashAggregate and knocks every other
    * counter out of whole-stage codegen. Distinct counts run as their
    * own concurrent job(s) — see [[classify]] — keeping this pass a
    * fully codegen'd HashAggregate.
    */
  private def statsExprs(field: StructField): Seq[Column] = {
    val c           = col(field.name)
    val notNull     = count(c) // count(col) skips nulls
    val hasNull = max(c.isNull.cast("int"))
    // min==max on the column's NATIVE type — only the boolean survives
    // into the row, so no uniform-type cast is needed, and no per-value
    // double→string formatting (which dominated the pass at sf0.1).
    val constNonNull = (min(c) <=> max(c)).cast("int")
    val castable = field.dataType match {
      case StringType =>
        count(when(graft.functions.SafeCast.tryCastDouble(c).isNotNull, 1))
      case _          => notNull
    }
    val zeroOne = field.dataType match {
      case BooleanType => lit(1)
      case dt if isNumericType(dt) =>
        min(when(c.isNotNull, (c === 0 || c === 1).cast("int")))
      case _ =>
        min(when(c.isNotNull, c.cast("string")
          .isin("0", "1", "0.0", "1.0", "true", "false").cast("int")))
    }
    Seq(
      notNull.cast("long").as(s"${field.name}__nn"),
      hasNull.cast("int").as(s"${field.name}__hn"),
      constNonNull.as(s"${field.name}__cst"),
      castable.cast("long").as(s"${field.name}__cast"),
      zeroOne.cast("int").as(s"${field.name}__zo")
    )
  }

  /** Monotonic counter of distinct-count JOBS submitted — lets specs
    * pin the fused-exact contract (one distinct job per classify call,
    * not one per column) without depending on AQE-sensitive Spark job
    * counts.
    */
  private[graft] val distinctJobCount =
    new java.util.concurrent.atomic.AtomicLong

  /** Raw per-column counters, produced by either scan strategy. */
  private case class RawStats(total: Long, nn: Long, nd: Long,
      hn: Boolean, cst: Boolean, cab: Long, zo: Boolean)

  /** Approx strategy (default): two aggregations, submitted
    * CONCURRENTLY (each a map stage and a final stage) — the
    * fused codegen counter pass ([[statsExprs]]) and one HLL-only
    * aggregate for distinct counts (isolated because the HLL sketch is
    * a TypedImperativeAggregate that would knock the counters out of
    * whole-stage codegen). Neither shuffles data-scale rows: both
    * are map-side partial aggregates. This is the 100 TB path.
    */
  private def approxRawStats(df: DataFrame, fields: Seq[StructField])
      : Map[String, RawStats] = {
    val sc = df.sparkSession.sparkContext
    val aggs = count(lit(1)).cast("long").as("__total") +:
      fields.flatMap(statsExprs)
    val step = "Inference.classify"
    val mainF = DriverJobs.fork(sc, s"$step: counters")(
      df.agg(aggs.head, aggs.tail: _*).collect()(0))
    val distinctF = DriverJobs.fork(sc, s"$step: distinct counts") {
      distinctJobCount.incrementAndGet()
      // An HLL++ buffer is 52 longs per column (relativeSD 0.05), so the
      // partial aggregate outputs over 25 fields, and Spark's plan string
      // for the SQL execution event logs its once-per-JVM "Truncated the
      // string representation of a plan" warning. A one-field sketch
      // (`hll_sketch_agg`) would drop it but change the estimates.
      val hlls = fields.map(f =>
        approx_count_distinct(col(f.name)).cast("long")
          .as(s"${f.name}__nd"))
      val r = df.agg(hlls.head, hlls.tail: _*).collect()(0)
      fields.map(f => f.name -> r.getAs[Long](s"${f.name}__nd")).toMap
    }
    val row: Row  = DriverJobs.join(mainF)
    val distincts = DriverJobs.join(distinctF)
    val total     = row.getAs[Long]("__total")
    fields.map { f =>
      f.name -> RawStats(
        total = total,
        nn  = row.getAs[Long](s"${f.name}__nn"),
        nd  = distincts(f.name),
        hn  = Option(row.getAs[Any](s"${f.name}__hn")).exists(_ == 1),
        cst = Option(row.getAs[Any](s"${f.name}__cst")).exists(_ == 1),
        cab = Option(row.getAs[Any](s"${f.name}__cast"))
          .map(_.asInstanceOf[Long]).getOrElse(0L),
        zo  = Option(row.getAs[Any](s"${f.name}__zo")).exists(_ == 1))
    }.toMap
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
            // same contract as [[statsExprs]]
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
    * `exact = false` (default) runs the two-concurrent-job approx
    * strategy — shuffle-free, HLL distincts, the right shape at
    * 100 TB. `exact = true` runs ONE narrow-pair job whose shuffle is
    * the sum of per-column distinct counts — exact answers at the
    * inherent exact price, but never N scans or N jobs for N columns.
    */
  def classify(
      df: DataFrame,
      cols: Seq[String] = Seq.empty,
      exact: Boolean = false
  ): ColumnClassification = {
    val fields =
      if (cols.isEmpty) df.schema.fields.toSeq
      else df.schema.fields.toSeq.filter(f => cols.contains(f.name))
    val raw =
      if (exact) exactRawStats(df, fields)
      else approxRawStats(df, fields)

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
