package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Schema inference and value normalization for driver-built psets
  * (`Seq[Map[String, Any]]` with heterogeneous key sets).
  *
  * The reference's database is schemaless (pandas `dtype=object`,
  * ref psweep.py:853-874); columns appear as psets introduce them and
  * missing cells are NA-filled (ref psweep.py:690-710). Spark columns are
  * typed, so this module infers the union schema (union of keys, widest
  * consistent type per column) and *normalizes* every value into that
  * schema before anything else happens — crucially before hashing, which
  * mirrors the reference's "wash params through the db machinery so types
  * equal what the db will hold, else hashes diverge" step
  * (ref psweep.py:1380-1392).
  *
  * Type policy (SURVEY §1.2 / §7.4): integrals collapse to long, floats to
  * double; `null`-only columns become string; nested `Map[String, _]`
  * becomes a struct (sorted field names) so `flatten_dict` semantics map to
  * nested-column selection; sequences become arrays; genuinely mixed-type
  * columns are rejected at ingest with a clear error (documented deviation,
  * SURVEY §7.5 — no arbitrary-object cells).
  */
object ValueSchema {

  /** Widest consistent Spark type of one driver value. */
  def inferType(v: Any): DataType = v match {
    case null | None => NullType
    case _: Boolean => BooleanType
    case _: Byte | _: Short | _: Int | _: Long => LongType
    case _: Float | _: Double => DoubleType
    case _: java.math.BigDecimal | _: BigDecimal => DoubleType
    case _: String => StringType
    case _: java.sql.Timestamp | _: java.time.Instant => TimestampType
    case _: java.sql.Date | _: java.time.LocalDate => DateType
    case _: Array[Byte] => BinaryType
    case _: Complex => Complex.structType
    case _: Dyn => Dyn.structType
    case m: scala.collection.Map[_, _] =>
      val fields = m.toSeq
        .map { case (k, vv) => StructField(k.toString, inferType(vv), nullable = true) }
        .sortBy(_.name)
      StructType(fields)
    case r: Row if r.schema != null =>
      // extracted params round-trip: stored struct cells come back as
      // schema-carrying Rows (ref round-trip invariant,
      // tests/test_all.py:1440-1473)
      StructType(r.schema.fields.map(f =>
        StructField(f.name, f.dataType, nullable = true)).sortBy(_.name))
    case s: Iterable[_] =>
      val et = s.foldLeft(NullType: DataType)((acc, e) => merge(acc, inferType(e)))
      ArrayType(if (et == NullType) StringType else et, containsNull = true)
    case a: Array[_] => inferType(a.toSeq)
    case other =>
      throw new IllegalArgumentException(
        s"unsupported pset value type ${other.getClass.getName}: $other " +
          "(supported: null, Boolean, integral, float, String, binary, " +
          "Timestamp/Instant, Date/LocalDate, Seq, Map[String, _])")
  }

  /** Least common supertype of two inferred types; errors on a genuine mix. */
  def merge(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, t) => t
    case (t, NullType) => t
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (ArrayType(e1, n1), ArrayType(e2, n2)) =>
      ArrayType(merge(e1, e2), n1 || n2)
    case (s1: StructType, s2: StructType) =>
      val names = (s1.fieldNames ++ s2.fieldNames).distinct.sorted
      StructType(names.map { n =>
        val t1 = s1.find(_.name == n).map(_.dataType).getOrElse(NullType)
        val t2 = s2.find(_.name == n).map(_.dataType).getOrElse(NullType)
        StructField(n, merge(t1, t2), nullable = true)
      })
    case _ =>
      throw new IllegalArgumentException(
        s"mixed-type column: cannot reconcile $a with $b " +
          "(the engine rejects heterogeneous columns at ingest; wrap the " +
          "column's values in graft.core.Dyn(...) to store it as a " +
          "tagged dynamic column, SURVEY §7.4.1)")
  }

  /** Union schema over a pset list: union of keys (first-appearance order),
    * widest type per key, everything nullable (missing key == null cell). */
  def infer(psets: Seq[Map[String, Any]]): StructType = {
    val order = scala.collection.mutable.LinkedHashSet[String]()
    psets.foreach(_.keys.foreach(order.add))
    val types = scala.collection.mutable.Map[String, DataType]()
    psets.foreach(_.foreach { case (k, v) =>
      types(k) = merge(types.getOrElse(k, NullType), inferType(v))
    })
    StructType(order.toSeq.map { k =>
      val t = types(k)
      StructField(k, if (t == NullType) StringType else t, nullable = true)
    })
  }

  /** Normalize one driver value into the given Spark type (Int -> Long,
    * Float -> Double, nested Map -> Row, Instant -> Timestamp, ...). */
  def normalize(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) | (None, _) => null
    case (b: Boolean, BooleanType) => b
    case (x: Byte, LongType) => x.toLong
    case (x: Short, LongType) => x.toLong
    case (x: Int, LongType) => x.toLong
    case (x: Long, LongType) => x
    case (x: Byte, DoubleType) => x.toDouble
    case (x: Short, DoubleType) => x.toDouble
    case (x: Int, DoubleType) => x.toDouble
    case (x: Long, DoubleType) => x.toDouble
    case (x: Float, DoubleType) => x.toDouble
    case (x: Double, DoubleType) => x
    case (x: java.math.BigDecimal, DoubleType) => x.doubleValue
    case (x: BigDecimal, DoubleType) => x.toDouble
    case (s: String, StringType) => s
    case (t: java.sql.Timestamp, TimestampType) => t
    case (t: java.time.Instant, TimestampType) => java.sql.Timestamp.from(t)
    case (d: java.sql.Date, DateType) => d
    case (d: java.time.LocalDate, DateType) => java.sql.Date.valueOf(d)
    case (b: Array[Byte], BinaryType) => b
    case (d: Dyn, st: StructType) if st == Dyn.structType =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](d.json, d.tag), st)
    case (c: Complex, st: StructType) =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        st.fields.toSeq.map(f => f.name match {
          case "re" => Double.box(c.re)
          case "im" => Double.box(c.im)
          case other => throw new IllegalArgumentException(
            s"cannot place Complex into struct field $other")
        }).toArray, st)
    case (m: scala.collection.Map[_, _], st: StructType) =>
      val mm = m.map { case (k, vv) => k.toString -> vv }
      // schema-carrying Row: the canonical hash encoder needs field names
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        st.fields.toSeq.map(f =>
          mm.get(f.name).map(normalize(_, f.dataType)).orNull).toArray, st)
    case (r: Row, st: StructType) if r.schema != null =>
      val byName = r.schema.fieldNames.zipWithIndex.toMap
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        st.fields.toSeq.map(f => byName.get(f.name)
          .filterNot(r.isNullAt)
          .map(i => normalize(r.get(i), f.dataType)).orNull).toArray, st)
    case (s: Iterable[_], ArrayType(et, _)) => s.toSeq.map(normalize(_, et))
    case (a: Array[_], ArrayType(et, _)) => a.toSeq.map(normalize(_, et))
    case (other, t) =>
      throw new IllegalArgumentException(s"cannot normalize $other to $t")
  }

  /** Bridge: pset list -> DataFrame with the inferred union schema. */
  def toDF(spark: SparkSession, psets: Seq[Map[String, Any]]): DataFrame = {
    val schema = infer(psets)
    val rows = psets.map { p =>
      Row.fromSeq(schema.fields.toSeq.map(f =>
        p.get(f.name).map(normalize(_, f.dataType)).orNull))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, 32))),
      schema)
  }
}
