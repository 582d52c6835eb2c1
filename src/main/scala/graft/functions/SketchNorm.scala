package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared value normalization for sketch families whose distinct /
  * frequency identity is the STRING rendering of the value (theta,
  * count-min): the same logical number sketched from
  * differently-typed columns must render identically — int 1 → "1"
  * but double 1.0 → "1.0" would make a cross-corpus theta intersect
  * (or a cms estimate probed from an int column against a sketch
  * built over doubles) silently report ~0 with no diagnostic.
  * Integral types render as longs; fractional values that are exact
  * integers strip the trailing ".0"; everything else keeps its
  * natural string form.
  *
  * COMPATIBILITY: this normalization shipped in round 14 and CHANGED
  * the sketch identity for fractional-typed columns (double 1.0 was
  * previously rendered "1.0", now "1"). Theta/CMS sketches persisted
  * by pre-r14 builds over float/double/decimal columns use the old
  * rendering — merging or intersecting one with a new sketch
  * silently undercounts. Since round 16 every theta/CMS payload
  * carries a [[SketchPayload]] version envelope, so consuming an
  * UNVERSIONED payload logs a one-time warning naming this hazard
  * instead of relying on operators reading the README; rebuild
  * persisted sketches over fractional columns. Sketches over string
  * and integral columns are unaffected (their rendering never
  * changed). README "Sketch identity" records the same contract. */
object SketchNorm {

  def normalize(dt: DataType, value: Column): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      value.cast(LongType).cast(StringType)
    case _: DecimalType =>
      // decimals stay in decimal arithmetic — a double round-trip
      // would silently merge keys above 2^53 (9007199254740993
      // renders as ...992); integral decimals render without the
      // fractional tail so they agree with the integral branch
      when(value.isNotNull && value === floor(value),
        value.cast(DecimalType(38, 0)).cast(StringType))
        .otherwise(value.cast(StringType))
    case FloatType | DoubleType =>
      val d = value.cast(DoubleType)
      // the long-range guard keeps the clamped non-ansi double→long
      // cast from matching huge doubles
      when(d.isNotNull && abs(d) < lit(9.0e18) &&
          d === d.cast(LongType).cast(DoubleType),
        d.cast(LongType).cast(StringType))
        .otherwise(d.cast(StringType))
    case _ => value.cast(StringType)
  }

  /** Resolve a (possibly dotted) field path against a schema — an
    * exact top-level name wins, then struct descent; StringType when
    * unresolved (normalization then falls through to the identity
    * cast). */
  def resolveType(schema: StructType, field: String): DataType = {
    def walk(dt: DataType, path: List[String]): Option[DataType] =
      (dt, path) match {
        case (t, Nil) => Some(t)
        case (s: StructType, h :: rest) =>
          s.fields.find(_.name == h).flatMap(f => walk(f.dataType, rest))
        case _ => None
      }
    schema.fields.find(_.name == field).map(_.dataType)
      .orElse(walk(schema, field.split('.').toList))
      .getOrElse(StringType)
  }
}

/** Version envelope for persisted theta/CMS sketch payloads: a
  * 3-byte header (magic "GS" + normalization version) prepended to
  * every emitted sketch and stripped at every consumer. Raw
  * DataSketches/Spark sketch bytes never start with the magic (theta
  * byte 0 is a 1..4 preamble-longs count, Spark's
  * CountMinSketch a big-endian version int), so the header doubles
  * as a provenance probe: a payload WITHOUT it predates the
  * envelope — possibly also the round-14 fractional-rendering
  * normalization — and consuming it logs a one-time warning instead
  * of silently undercounting on merge. A payload with a NEWER
  * version than this build fails loudly. */
object SketchPayload {
  private val M0: Byte = 0x47 // 'G'
  private val M1: Byte = 0x53 // 'S'
  /** Bump when the value-identity normalization changes. */
  val NormVersion: Byte = 1

  private val warned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  def wrap(raw: Array[Byte]): Array[Byte] = {
    if (raw == null) return null
    val out = new Array[Byte](raw.length + 3)
    out(0) = M0; out(1) = M1; out(2) = NormVersion
    System.arraycopy(raw, 0, out, 3, raw.length)
    out
  }

  def unwrap(payload: Array[Byte], where: String): Array[Byte] = {
    if (payload == null) return null
    if (payload.length >= 3 && payload(0) == M0 && payload(1) == M1) {
      val v = payload(2)
      require(v <= NormVersion,
        s"$where: sketch payload carries normalization version $v, " +
          s"newer than this build's $NormVersion — the value " +
          "identity is incompatible; rebuild with a matching version")
      java.util.Arrays.copyOfRange(payload, 3, payload.length)
    } else {
      if (warned.add(where)) log.warn(
        s"$where: consuming an UNVERSIONED sketch payload — if it " +
          "was persisted by a build predating the sketch-identity " +
          "normalization over a float/double/decimal column, its " +
          "value rendering differs and merged/intersected estimates " +
          "will silently undercount; rebuild persisted " +
          "fractional-column sketches (README \"Sketch identity\")")
      payload
    }
  }

  /** [[wrap]] as a Catalyst prepend on a binary sketch column. */
  def wrap(sketch: Column): Column =
    concat(lit(Array(M0, M1, NormVersion)), sketch)

  /** [[unwrap]] as a Catalyst expression on a binary payload column
    * (once per sketch value). */
  def unwrap(payload: Column, where: String): Column =
    org.apache.spark.sql.graft.SketchExpressions.unwrap(payload, where)
}
