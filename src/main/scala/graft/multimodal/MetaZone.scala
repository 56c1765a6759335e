package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types._

/** Zone maps one level above parquet: per-component min/max (+ a small
  * bloom for equality) over META columns, carried on the pack-store
  * snapshot line — so a metadata-predicate scan skips whole components
  * before opening ANY of their meta parquet files. Parquet footers
  * already give row-group pruning INSIDE a file; at 10^3+ components the
  * remaining O(components) cost is the file opens themselves, and that
  * is what these stats remove (the same job Iceberg's manifest-level
  * column stats do).
  *
  * Pruning is strictly CONSERVATIVE: a component is skipped only when
  * the predicate provably matches none of its rows —
  *   - conjuncts combine with OR-of-exclusions, disjuncts with AND;
  *   - only `attr <op> literal` shapes participate (casts, UDFs,
  *     null-tests, anything else → never prune on that node);
  *   - a column absent from a component's recorded stats is all-NULL
  *     for its rows (schema evolution reads it as NULL), and NULL
  *     fails every comparison — so absence excludes, which is the
  *     schema-evolution twin of Iceberg's null_value_counts prune;
  *   - string ordering compares UTF-8 bytes unsigned, matching the
  *     binary collation Spark's min/max aggregates use;
  *   - a column of unsupported type records an `opaque` stat that
  *     never prunes.
  */
object MetaZone {

  /** 1024-bit equality bloom per column (16 longs, ~172 base64 chars):
    * saturates gracefully on high-cardinality columns (no skip, no
    * harm); a false positive only costs the meta read the bloom would
    * have saved.
    */
  private val ColBloom = Bloom(1024)

  /** One column's zone entry. min/max are the column's non-null extrema
    * rendered as strings (compared back in the column's own domain);
    * None min on a ranged type = the column is entirely NULL in this
    * component. `dt` ∈ long | double | string | opaque.
    */
  final case class ColStat(dt: String, minS: Option[String], maxS: Option[String],
      bloom: Vector[Long])

  private def dtTag(t: DataType): String = t match {
    case LongType | IntegerType | ShortType | ByteType => "long"
    case DoubleType | FloatType => "double"
    case StringType => "string"
    case _ => "opaque"
  }

  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    for (b <- s.getBytes("UTF-8")) { h ^= (b & 0xffL); h *= 0x100000001b3L }
    h
  }

  /** Stable hash of a value in its column's domain — identical for the
    * executor-side build (row values) and the driver-side probe
    * (predicate literals), which is the whole point.
    */
  private def hashIn(dt: String, v: Any): Option[Long] = (dt, v) match {
    case ("long", n: java.lang.Number) => Some(Bloom.mix(n.longValue()))
    case ("double", n: java.lang.Number) =>
      Some(Bloom.mix(java.lang.Double.doubleToLongBits(n.doubleValue())))
    case ("string", s) => Some(Bloom.mix(fnv64(s.toString)))
    case _ => None
  }

  /** Compute the zone entry for every column of `df` in two narrow
    * passes: one agg for string-rendered min/max, one distinct-positions
    * pass for the blooms (positions, not values, cross to the driver —
    * bounded by the bloom width per column regardless of component size).
    */
  def statsOf(s: SparkSession, df: DataFrame): Map[String, ColStat] = {
    import s.implicits._
    val fields = df.schema.fields.toVector
    val aggs = fields.flatMap(f => Seq(
      min(col(f.name)).cast("string").as(s"min_${f.name}"),
      max(col(f.name)).cast("string").as(s"max_${f.name}")))
    val mmRow = df.agg(aggs.head, aggs.tail: _*).head()
    val tags = fields.map(f => dtTag(f.dataType))
    val posPairs = df.mapPartitions { it =>
      it.flatMap { row =>
        tags.indices.iterator.flatMap { i =>
          if (row.isNullAt(i)) Iterator.empty
          else hashIn(tags(i), row.get(i)).iterator.flatMap(ColBloom.positions(_).map(p => (i, p)))
        }
      }
    }.distinct().collect()
    val setBits = posPairs.toSeq.groupMap(_._1)(_._2)
    fields.zipWithIndex.map { case (f, i) =>
      f.name.toLowerCase -> ColStat(tags(i),
        Option(mmRow.getString(2 * i)), Option(mmRow.getString(2 * i + 1)),
        ColBloom.of(setBits.getOrElse(i, Nil)))
    }.toMap
  }

  // ---- snapshot-line codec: fields -joined, columns -joined,
  // the whole blob base64'd (delimiter-proof for any column name/value)

  private def b64(s: String) = java.util.Base64.getEncoder
    .encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String) = new String(
    java.util.Base64.getDecoder.decode(s), "UTF-8")

  def encode(stats: Map[String, ColStat]): String = {
    val cols = stats.toSeq.sortBy(_._1).map { case (name, st) =>
      Seq(b64(name), st.dt, st.minS.fold("")(b64), st.maxS.fold("")(b64), Bloom.encode(st.bloom))
        .mkString("")
    }
    b64(cols.mkString(""))
  }

  def decode(tok: String): Map[String, ColStat] =
    unb64(tok).split('').filter(_.nonEmpty).map { colBlob =>
      colBlob.split('') match {
        case Array(n, dt, mn, mx, bl) =>
          unb64(n) -> ColStat(dt,
            if (mn.isEmpty) None else Some(unb64(mn)),
            if (mx.isEmpty) None else Some(unb64(mx)),
            Bloom.decode(bl))
        case other => throw new IllegalStateException(
          s"bad meta-zone column blob: ${other.mkString("|")}")
      }
    }.toMap

  // ---- conservative predicate evaluation against a component's stats

  /** Unsigned UTF-8 byte comparison — the binary collation Spark's
    * min/max string aggregates order by (Java String.compareTo would
    * disagree on supplementary characters and wrongly prune).
    */
  private def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Compare a recorded bound (string-rendered) with a literal in the
    * column's domain; None when the literal doesn't fit the domain
    * (never prune on a malformed comparison).
    */
  private def cmpIn(dt: String, bound: String, v: Any): Option[Int] = (dt, v) match {
    case ("long", n: java.lang.Number) =>
      scala.util.Try(java.lang.Long.compare(bound.toLong, n.longValue())).toOption
    case ("double", n: java.lang.Number) =>
      scala.util.Try(java.lang.Double.compare(bound.toDouble, n.doubleValue())).toOption
    case ("string", s) => Some(cmpUtf8(bound, s.toString))
    case _ => None
  }

  private object AttrName {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name.toLowerCase)
      case u: UnresolvedAttribute => Some(u.name.toLowerCase)
      case _ => None
    }
  }

  private object LitVal {
    def unapply(e: Expression): Option[Any] = e match {
      case Literal(v, _) if v != null => Some(v)
      case _ => None
    }
  }

  /** Spark 4 Columns convert to `UnresolvedFunction('=', args)`-shaped
    * trees (the ColumnNode path), while analyzed plans carry the classic
    * `EqualTo`/`GreaterThan` nodes — normalize both to (op, args).
    */
  private object Cmp {
    def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 =>
        Some((f.nameParts.head.toLowerCase, f.arguments))
      case And(l, r) => Some(("and", Seq(l, r)))
      case Or(l, r) => Some(("or", Seq(l, r)))
      case EqualTo(l, r) => Some(("=", Seq(l, r)))
      case GreaterThan(l, r) => Some((">", Seq(l, r)))
      case GreaterThanOrEqual(l, r) => Some((">=", Seq(l, r)))
      case LessThan(l, r) => Some(("<", Seq(l, r)))
      case LessThanOrEqual(l, r) => Some(("<=", Seq(l, r)))
      case In(v, vs) => Some(("in", v +: vs))
      case _ => None
    }
  }

  /** True iff the predicate provably matches NO row of a component with
    * these stats. `stats` is the component's COMPLETE meta column set:
    * a referenced column with no entry reads as all-NULL for this
    * component and fails every comparison.
    */
  def excludes(stats: Map[String, ColStat], e: Expression): Boolean = e match {
    case Cmp("and", Seq(l, r)) => excludes(stats, l) || excludes(stats, r)
    case Cmp("or", Seq(l, r)) => excludes(stats, l) && excludes(stats, r)
    case Cmp("=" | "==" | "equalto", Seq(AttrName(n), LitVal(v))) => excludesEq(stats, n, v)
    case Cmp("=" | "==" | "equalto", Seq(LitVal(v), AttrName(n))) => excludesEq(stats, n, v)
    case Cmp(">", Seq(AttrName(n), LitVal(v))) => excludesCmp(stats, n, c => c > 0, v)   // need max > v
    case Cmp(">", Seq(LitVal(v), AttrName(n))) => excludesCmp(stats, n, c => c < 0, v, useMin = true) // need min < v
    case Cmp(">=", Seq(AttrName(n), LitVal(v))) => excludesCmp(stats, n, c => c >= 0, v)
    case Cmp(">=", Seq(LitVal(v), AttrName(n))) => excludesCmp(stats, n, c => c <= 0, v, useMin = true)
    case Cmp("<", Seq(AttrName(n), LitVal(v))) => excludesCmp(stats, n, c => c < 0, v, useMin = true)
    case Cmp("<", Seq(LitVal(v), AttrName(n))) => excludesCmp(stats, n, c => c > 0, v)
    case Cmp("<=", Seq(AttrName(n), LitVal(v))) => excludesCmp(stats, n, c => c <= 0, v, useMin = true)
    case Cmp("<=", Seq(LitVal(v), AttrName(n))) => excludesCmp(stats, n, c => c >= 0, v)
    case Cmp("in", AttrName(n) +: vs) if vs.nonEmpty && vs.forall(LitVal.unapply(_).isDefined) =>
      vs.flatMap(LitVal.unapply).forall(excludesEq(stats, n, _))
    case _ => false // unsupported shape: never prune
  }

  /** Excludes an equality: the column is absent/all-NULL, the value is
    * outside [min,max], or the bloom rejects it.
    */
  private def excludesEq(stats: Map[String, ColStat], name: String, v: Any): Boolean =
    stats.get(name) match {
      case None => true // schema evolution: all-NULL here, = literal never holds
      case Some(st) if st.dt == "opaque" => false
      case Some(st) => (st.minS, st.maxS) match {
        case (Some(mn), Some(mx)) =>
          val below = cmpIn(st.dt, mn, v).exists(_ > 0)
          val above = cmpIn(st.dt, mx, v).exists(_ < 0)
          val bloomMiss = hashIn(st.dt, v).exists(!ColBloom.mightContain(st.bloom, _))
          below || above || bloomMiss
        case _ => true // ranged type, no non-null value in this component
      }
    }

  /** Excludes an order comparison: the component satisfies the predicate
    * somewhere only if its relevant extremum does — `keep(cmp(bound, v))`
    * — so failure of that test on max (or min when `useMin`) prunes.
    */
  private def excludesCmp(stats: Map[String, ColStat], name: String,
      keep: Int => Boolean, v: Any, useMin: Boolean = false): Boolean =
    stats.get(name) match {
      case None => true
      case Some(st) if st.dt == "opaque" => false
      case Some(st) =>
        val bound = if (useMin) st.minS else st.maxS
        bound match {
          case Some(b) => cmpIn(st.dt, b, v).exists(c => !keep(c))
          case None => st.minS.isEmpty && st.maxS.isEmpty // all-NULL: nothing matches
        }
    }
}
