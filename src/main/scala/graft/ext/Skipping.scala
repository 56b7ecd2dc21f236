package graft.ext

import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** The file-pruning evaluator behind [[ManifestTable.readWhere]]: decide,
  * from a file's footer-derived min/max/null-count stats alone, whether
  * the file can possibly hold a row satisfying a predicate. The contract
  * is strictly one-sided — [[skips]] returns true only when NO row in the
  * file can satisfy the predicate, so pruning never changes results; any
  * shape the evaluator does not understand (unknown expression, type
  * mismatch, missing column stats) falls through to "keep the file".
  *
  * This is the same may-contain three-valued logic Delta/Iceberg data
  * skipping evaluates, over the same footer stats, but driver-side against
  * the in-memory manifest: AND keeps a file only if both sides might
  * match, OR if either might; a leaf comparison checks the literal against
  * the file's [min, max] interval.
  *
  * Type families (see [[ManifestTable.ColStats]]): `long` (plain signed
  * ints), `date` (days), `ts`/`tsntz` (micros, adjusted/not), `double`,
  * `string`, `bool`. A literal prunes only against the matching family —
  * a date literal never prunes a plain-int column even though both are
  * stored as longs, because Spark's cast semantics for the post-scan
  * filter may disagree with raw numeric order. The one deliberate
  * crossing: integral literals prune `double` columns and fractional
  * literals prune `long` columns, both evaluated in double with the file
  * interval widened one ulp each way so long→double rounding can never
  * flip a bound and skip a file that should be read.
  *
  * String order is unsigned UTF-8 byte order — parquet's string sort
  * order — NOT Java's UTF-16 `compareTo`, which disagrees beyond the BMP.
  */
object Skipping {
  import ManifestTable.{ColStats, FileStats}

  // ------------------------------------------------- footer harvesting

  /** Comparison family for a parquet leaf type, or None when footer
    * min/max cannot be trusted for pruning: INT96 timestamps (deprecated,
    * stats undefined), unsigned ints (signed stats order), decimals
    * (scale lives in the logical type), enums-as-binary without string
    * annotation, fixed-len binary, and INT64 timestamps in non-micro
    * units (Spark literals are micros; a unit conversion here would be
    * another place to be wrong, and Spark only writes MICROS/INT96).
    */
  def family(t: org.apache.parquet.schema.PrimitiveType): Option[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val lt = t.getLogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case BOOLEAN => if (lt == null) Some("bool") else None
      case FLOAT | DOUBLE => if (lt == null) Some("double") else None
      case INT32 => lt match {
        case null => Some("long")
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
          if i.isSigned => Some("long")
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("date")
        case _ => None
      }
      case INT64 => lt match {
        case null => Some("long")
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
          if i.isSigned => Some("long")
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
          Some(if (ts.isAdjustedToUTC) "ts" else "tsntz")
        case _ => None
      }
      case BINARY => lt match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation |
             _: LogicalTypeAnnotation.EnumLogicalTypeAnnotation => Some("string")
        case _ => None
      }
      case _ => None // INT96, FIXED_LEN_BYTE_ARRAY
    }
  }

  /** One row group's (min, max) as canonical strings for `fam`, or
    * (None, None) when the stats are unusable (NaN-polluted floats, a
    * statistics subtype that does not match the family).
    */
  def canonical(fam: String,
                st: org.apache.parquet.column.statistics.Statistics[_])
  : (Option[String], Option[String]) = {
    import org.apache.parquet.column.statistics._
    (fam, st) match {
      case ("long" | "date" | "ts" | "tsntz", s: IntStatistics) =>
        (Some(s.getMin.toLong.toString), Some(s.getMax.toLong.toString))
      case ("long" | "ts" | "tsntz", s: LongStatistics) =>
        (Some(s.getMin.toString), Some(s.getMax.toString))
      case ("double", s: FloatStatistics) =>
        if (s.getMin.isNaN || s.getMax.isNaN) (None, None)
        else (Some(s.getMin.toDouble.toString), Some(s.getMax.toDouble.toString))
      case ("double", s: DoubleStatistics) =>
        if (s.getMin.isNaN || s.getMax.isNaN) (None, None)
        else (Some(s.getMin.toString), Some(s.getMax.toString))
      case ("string", s: BinaryStatistics) =>
        (Some(s.genericGetMin.toStringUsingUTF8),
         Some(s.genericGetMax.toStringUsingUTF8))
      case ("bool", s: BooleanStatistics) =>
        (Some(s.getMin.toString), Some(s.getMax.toString))
      case _ => (None, None)
    }
  }

  /** Merge a row group's bound into the file-level bound (min of mins /
    * max of maxes across row groups).
    */
  def fold(fam: String, a: Option[String], b: Option[String],
           keepMin: Boolean): Option[String] = (a, b) match {
    case (None, x) => x
    case (x, None) => x
    case (Some(x), Some(y)) =>
      val c = cmpCanon(fam, x, y)
      Some(if ((c <= 0) == keepMin) x else y)
  }

  private def cmpCanon(fam: String, a: String, b: String): Int = fam match {
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "string" => utf8Cmp(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    case "bool" => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    case _ => java.lang.Long.compare(a.toLong, b.toLong)
  }

  private def utf8Cmp(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  // ------------------------------------------------- predicate pruning

  /** True iff `pred` can match NO row of a file with stats `st`. Any
    * internal surprise keeps the file (pruning must never throw a query).
    */
  def skips(pred: Expression, st: FileStats): Boolean =
    try !may(pred, st)
    catch { case scala.util.control.NonFatal(_) => false }

  /** True iff the stats PROVE every row of the file satisfies `pred` as
    * TRUE — the dual of [[skips]], powering metadata-only DELETE (drop
    * the whole file from the manifest, rewrite nothing). Each comparison
    * is proven by refuting its negation against the file interval
    * ([[litMay]] with the dual operator) AND requiring the column
    * null-free in the file: a row where the predicate evaluates NULL is
    * KEPT by SQL DELETE, so it must never be dropped wholesale. Parquet
    * stats truncation only ever widens [min, max], which makes every
    * proof here conservative, never wrong. Unknown shapes and any
    * internal surprise answer false (the file gets the ordinary
    * rewrite).
    */
  def provesAll(pred: Expression, st: FileStats): Boolean =
    try all(pred, st)
    catch { case scala.util.control.NonFatal(_) => false }

  private def all(e: Expression, st: FileStats): Boolean = e match {
    case And(l, r) => all(l, st) && all(r, st)
    case Or(l, r) => all(l, st) || all(r, st)
    case Not(EqualTo(a, b)) => cmpAll(a, b, "ne", st)
    case EqualTo(a, b) => cmpAll(a, b, "eq", st)
    case LessThan(a, b) => cmpAll(a, b, "lt", st)
    case LessThanOrEqual(a, b) => cmpAll(a, b, "le", st)
    case GreaterThan(a, b) => cmpAll(a, b, "gt", st)
    case GreaterThanOrEqual(a, b) => cmpAll(a, b, "ge", st)
    // provable only when the file is a point (min == max) sitting on a
    // member — the partitioned-table shape, where every file holds one
    // tuple value
    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists(l => cmpAll(a, l.asInstanceOf[Literal], "eq", st))
    case s: InSet if s.hset.size <= InSetPruneMax =>
      s.hset.exists(v => v != null &&
        cmpAll(s.child, Literal(v, s.child.dataType), "eq", st))
    case IsNull(a) =>
      (for { c <- colName(a); cs <- st.cols.get(c) }
        yield cs.nulls == st.rows).getOrElse(false)
    case IsNotNull(a) =>
      (for { c <- colName(a); cs <- st.cols.get(c) }
        yield cs.nulls == 0L).getOrElse(false)
    case l: Literal => l.value match {
      case b: java.lang.Boolean => b.booleanValue
      case _ => false
    }
    case _ => false
  }

  private def cmpAll(a: Expression, b: Expression, op: String,
                     st: FileStats): Boolean = {
    def one(c: String, l: Literal, o: String): Boolean =
      l.value != null && st.cols.get(c).exists(cs =>
        cs.nulls == 0L && !litMay(c, l, dualOp(o), st))
    (colName(a), b, a, colName(b)) match {
      case (Some(c), l: Literal, _, _) => one(c, l, op)
      case (_, _, l: Literal, Some(c)) => one(c, l, flip(op))
      case _ => false
    }
  }

  private def dualOp(op: String): String = op match {
    case "eq" => "ne"; case "ne" => "eq"
    case "lt" => "ge"; case "le" => "gt"
    case "gt" => "le"; case "ge" => "lt"
    case other => other
  }

  /** Might some row of the file satisfy `e`? (true = keep; unknown
    * shapes are true.) SQL three-valued semantics make null-valued
    * predicates filter like false, so an all-null column lets every
    * direct comparison answer "no row matches".
    */
  private def may(e: Expression, st: FileStats): Boolean = e match {
    case And(l, r) => may(l, st) && may(r, st)
    case Or(l, r) => may(l, st) || may(r, st)
    case Not(EqualTo(a, b)) => cmpMay(a, b, "ne", st)
    case EqualTo(a, b) => cmpMay(a, b, "eq", st)
    case EqualNullSafe(a, b) => nullSafeMay(a, b, st)
    case LessThan(a, b) => cmpMay(a, b, "lt", st)
    case LessThanOrEqual(a, b) => cmpMay(a, b, "le", st)
    case GreaterThan(a, b) => cmpMay(a, b, "gt", st)
    case GreaterThanOrEqual(a, b) => cmpMay(a, b, "ge", st)
    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      colName(a) match {
        case Some(c) =>
          list.exists(l => litMay(c, l.asInstanceOf[Literal], "eq", st))
        case None => true
      }
    // the optimizer rewrites IN lists past inSetConversionThreshold (10)
    // into InSet with INTERNAL-representation values — the shape every
    // pushed point-probe list of real size arrives in. Capped: a huge set
    // would make this exists() O(files x keys) on the driver, so beyond
    // the cap the file is kept (conservative, never wrong).
    case s: InSet if s.hset.size <= InSetPruneMax =>
      colName(s.child) match {
        case Some(c) =>
          s.hset.exists(v => v != null &&
            litMay(c, Literal(v, s.child.dataType), "eq", st))
        case None => true
      }
    case IsNull(a) =>
      (for { c <- colName(a); cs <- st.cols.get(c) } yield cs.nulls > 0)
        .getOrElse(true)
    case IsNotNull(a) =>
      (for { c <- colName(a); cs <- st.cols.get(c) }
        yield cs.min.isDefined).getOrElse(true)
    // Only the default escape character: under `ESCAPE 'c'` a pattern
    // like 'abc%' is NOT a plain prefix (it matches the literal "ab%"),
    // so prefix-interval pruning would drop files holding true matches.
    case Like(a, b, esc) if esc == '\\' => likeMay(a, b, st)
    case l: Literal => l.value match {
      case null => false
      case b: java.lang.Boolean => b.booleanValue
      case _ => true
    }
    case _ => true
  }

  // Single-part attributes only: a multi-part name like `s.a` is a
  // struct-field (or qualified) reference, and collapsing it to "a"
  // would prune on an unrelated top-level column's stats — wrong
  // results. Nested columns conservatively keep every file. A RESOLVED
  // AttributeReference (the shape the planner's pushed dataFilters
  // carry into [[ManifestFileIndex]]) is by construction a top-level
  // column of the relation — struct-field access arrives as
  // GetStructField over it, which stays None.
  private def colName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute if a.nameParts.size == 1 =>
      Some(a.nameParts.head.toLowerCase)
    case a: AttributeReference => Some(a.name.toLowerCase)
    // a RESOLVED struct-field access maps to the parquet LEAF path the
    // footer stats are keyed by (`meta.n` — ColumnPath.toDotString):
    // struct-leaf predicates prune like top-level ones. Only the
    // resolved shape: a multi-part UnresolvedAttribute could as well
    // be a qualified top-level name, and guessing prunes wrong files.
    case g: GetStructField =>
      colName(g.child).map(c => s"$c.${g.extractFieldName.toLowerCase}")
    case _ => None
  }

  /** REQUIRED equality conjuncts of `e` — the (column, candidate
    * literals) pairs that must hold for any matching row, harvested from
    * the top-level AND tree (never under OR/NOT, where the conjunct is
    * optional). These are the conjuncts a per-file bloom filter can
    * prune on: `col = lit` demands the single literal be present,
    * `col IN (...)` demands at least one of them. Null literals are
    * dropped (stats pruning already proves those files empty).
    */
  def eqConjuncts(e: Expression): Seq[(String, Seq[Literal])] = e match {
    case And(l, r) => eqConjuncts(l) ++ eqConjuncts(r)
    case EqualTo(a, b) => eqPair(a, b).toSeq
    case EqualNullSafe(a, b) => eqPair(a, b).toSeq
    case In(a, list) if list.nonEmpty && list.forall {
      case l: Literal => l.value != null; case _ => false
    } =>
      colName(a).map(c => (c, list.map(_.asInstanceOf[Literal]))).toSeq
    case s: InSet if s.hset.nonEmpty && s.hset.size <= InSetPruneMax &&
      !s.hset.contains(null) =>
      colName(s.child).map(c =>
        (c, s.hset.toSeq.map(v => Literal(v, s.child.dataType)))).toSeq
    case _ => Seq.empty
  }

  /** Largest InSet the pruning passes will enumerate; bigger sets keep
    * every file. Sized so the worst case stays trivial driver math
    * (files x keys), in line with [[ManifestTable.merge]]'s probe cap.
    */
  private val InSetPruneMax = 1024

  private def eqPair(a: Expression, b: Expression)
  : Option[(String, Seq[Literal])] = (a, b) match {
    case (_, l: Literal) if l.value != null =>
      colName(a).map(c => (c, Seq(l)))
    case (l: Literal, _) if l.value != null =>
      colName(b).map(c => (c, Seq(l)))
    case _ => None
  }

  /** A probe for one literal against a file's bloom: integral literals
    * probe as longs and strings as strings, each hashed the way the file
    * stores the column ([[FileBloom.hash]]; a kind the column does not
    * store is kept). None for any other literal, which no bloom answers.
    */
  def bloomTest(l: Literal): Option[FileBloom => Boolean] = (l.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(l.value.asInstanceOf[Number].longValue)
    case _: StringType => Some(l.value.toString)
    case _ => None
  }).map(v => bf => FileBloom.hash(bf.typ, v).forall(bf.has))

  /** Normalize `a op b` to column-on-the-left, then test the literal
    * against the column's file interval.
    */
  private def cmpMay(a: Expression, b: Expression, op: String,
                     st: FileStats): Boolean =
    (colName(a), b, a, colName(b)) match {
      case (Some(c), l: Literal, _, _) => litMay(c, l, op, st)
      case (_, _, l: Literal, Some(c)) => litMay(c, l, flip(op), st)
      case _ => true
    }

  private def flip(op: String): String = op match {
    case "lt" => "gt"; case "le" => "ge"
    case "gt" => "lt"; case "ge" => "le"
    case other => other
  }

  private def nullSafeMay(a: Expression, b: Expression,
                          st: FileStats): Boolean =
    (colName(a), b, a, colName(b)) match {
      case (Some(c), l: Literal, _, _) => nullSafeLit(c, l, st)
      case (_, _, l: Literal, Some(c)) => nullSafeLit(c, l, st)
      case _ => true
    }

  private def nullSafeLit(c: String, l: Literal, st: FileStats): Boolean =
    st.cols.get(c) match {
      case None => true
      case Some(cs) =>
        if (l.value == null) cs.nulls > 0 else litMay(c, l, "eq", st)
    }

  /** Can `col op lit` be true for some row of the file? */
  private def litMay(c: String, lit: Literal, op: String,
                     st: FileStats): Boolean = st.cols.get(c) match {
    case None => true // no stats for the column: cannot prune
    case Some(cs) =>
      if (lit.value == null) false // comparison with null is never true
      else if (cs.min.isEmpty) false // column entirely null in this file
      else intervalMay(cs, lit, op)
  }

  private def intervalMay(cs: ColStats, lit: Literal, op: String): Boolean = {
    val mn = cs.min.get
    val mx = cs.max.get
    def longLit: Option[Long] = lit.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(lit.value.toString.toLong)
      case _ => None
    }
    def fracLit: Option[Double] = lit.dataType match {
      case FloatType | DoubleType => Some(lit.value.toString.toDouble)
      case _: DecimalType =>
        Some(lit.value.asInstanceOf[Decimal].toDouble)
      case _ => None
    }
    cs.typ match {
      case "long" =>
        longLit match {
          case Some(v) => opMayLong(mn.toLong, mx.toLong, v, op)
          case None => fracLit match {
            // fractional literal vs integer column: compare in double
            // with the file interval widened one ulp each way, so
            // long->double rounding can never skip a matching file
            case Some(v) => opMayDouble(Math.nextDown(mn.toLong.toDouble),
              Math.nextUp(mx.toLong.toDouble), v, op)
            case None => true
          }
        }
      case "date" => lit.dataType match {
        case DateType => opMayLong(mn.toLong, mx.toLong,
          lit.value.toString.toLong, op)
        case _ => true
      }
      case "ts" => lit.dataType match {
        case TimestampType => opMayLong(mn.toLong, mx.toLong,
          lit.value.toString.toLong, op)
        case _ => true
      }
      case "tsntz" => lit.dataType match {
        case TimestampNTZType => opMayLong(mn.toLong, mx.toLong,
          lit.value.toString.toLong, op)
        case _ => true
      }
      case "double" =>
        longLit.map(_.toDouble).orElse(fracLit) match {
          case Some(v) => opMayDouble(Math.nextDown(mn.toDouble),
            Math.nextUp(mx.toDouble), v, op)
          case None => true
        }
      case "string" => lit.dataType match {
        case _: StringType =>
          opMayStr(mn, mx, lit.value.toString, op)
        case _ => true
      }
      case "bool" => lit.dataType match {
        case BooleanType =>
          val v = if (lit.value.asInstanceOf[Boolean]) 1L else 0L
          opMayLong(if (mn.toBoolean) 1L else 0L,
            if (mx.toBoolean) 1L else 0L, v, op)
        case _ => true
      }
      case _ => true
    }
  }

  private def opMayLong(mn: Long, mx: Long, v: Long, op: String): Boolean =
    op match {
      case "eq" => mn <= v && v <= mx
      case "ne" => !(mn == v && mx == v)
      case "lt" => mn < v
      case "le" => mn <= v
      case "gt" => mx > v
      case "ge" => mx >= v
      case _ => true
    }

  private def opMayDouble(mn: Double, mx: Double, v: Double,
                          op: String): Boolean = op match {
    case "eq" => mn <= v && v <= mx
    case "ne" => !(mn == v && mx == v) // widened bounds => never prunes
    case "lt" => mn < v
    case "le" => mn <= v
    case "gt" => mx > v
    case "ge" => mx >= v
    case _ => true
  }

  private def opMayStr(mn: String, mx: String, v: String,
                       op: String): Boolean = {
    val c1 = cmpCanon("string", mn, v)
    val c2 = cmpCanon("string", mx, v)
    op match {
      case "eq" => c1 <= 0 && c2 >= 0
      case "ne" => !(c1 == 0 && c2 == 0)
      case "lt" => c1 < 0
      case "le" => c1 <= 0
      case "gt" => c2 > 0
      case "ge" => c2 >= 0
      case _ => true
    }
  }

  /** `col LIKE 'prefix%'` (no other wildcards, no escapes): matching
    * strings form the interval [prefix, succ(prefix)), so the file may
    * match iff its [min, max] intersects it. succ increments the last
    * non-0xFF byte of the prefix's UTF-8 form; an all-0xFF prefix has no
    * upper bound.
    */
  private def likeMay(a: Expression, b: Expression, st: FileStats): Boolean = {
    val shape = for {
      c <- colName(a)
      l <- b match { case l: Literal => Some(l); case _ => None }
      if (l.dataType match { case _: StringType => true; case _ => false }) &&
        l.value != null
      pat = l.value.toString
      if pat.matches("[^_%\\\\]*%")
    } yield (c, pat.dropRight(1))
    shape match {
      case None => true
      case Some((c, prefix)) => st.cols.get(c) match {
        case None => true
        case Some(cs) if cs.min.isEmpty => false // all null: LIKE never true
        case Some(cs) if cs.typ != "string" => true
        case Some(cs) =>
          if (prefix.isEmpty) true // 'x LIKE "%"' matches any non-null
          else {
            val pB = prefix.getBytes("UTF-8")
            val upper = succ(pB)
            utf8Cmp(cs.max.get.getBytes("UTF-8"), pB) >= 0 &&
              upper.forall(u => utf8Cmp(cs.min.get.getBytes("UTF-8"), u) < 0)
          }
      }
    }
  }

  private def succ(b: Array[Byte]): Option[Array[Byte]] = {
    var i = b.length - 1
    while (i >= 0 && b(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(b, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }
}

/** A data file's parquet bloom for one column: each row group's bitset
  * and the physical type the writer hashed values as. Bitsets travel (the
  * filter is not Serializable); each thread probes through its own filters
  * because `hash` and `findHash` share scratch buffers. */
final case class FileBloom(typ: PrimitiveTypeName, bitsets: Seq[Array[Byte]]) {
  @transient private lazy val filters = ThreadLocal.withInitial[
    Seq[BlockSplitBloomFilter]](() => bitsets.map(new BlockSplitBloomFilter(_)))

  /** True when some row group may hold the value hashed to `h`. */
  def has(h: Long): Boolean = filters.get.exists(_.findHash(h))
}

object FileBloom {
  private val hasher = ThreadLocal.withInitial[BlockSplitBloomFilter](() =>
    new BlockSplitBloomFilter(BlockSplitBloomFilter.LOWER_BOUND_BYTES))

  /** Parquet's hash of `v` as a `typ` column stores it: INT32 for byte,
    * short and int columns (hashing those as a long misses every key),
    * INT64, or a string's UTF-8 bytes. None when `v` does not fit `typ`.
    */
  def hash(typ: PrimitiveTypeName, v: Any): Option[Long] = (typ, v) match {
    case (INT32, n: Long) if n.isValidInt => Some(hasher.get.hash(n.toInt))
    case (INT64, n: Long) => Some(hasher.get.hash(n))
    case (BINARY, s: String) => Some(hasher.get.hash(Binary.fromString(s)))
    case _ => None
  }
}
