package graft

import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** Pins the whole registered mobility SQL surface. The names come from
  * the session's function registry (every function `GraftFunctions`
  * registers with source `scala_udf`), and every one of them must have
  * at least one pinned case below.
  *
  * Each case runs twice and must print the same pinned text both times:
  *  - with literal arguments, which constant-folds on the driver;
  *  - with the same values as columns of a `VALUES` relation behind a
  *    repartition, so the call is serialized with the plan and evaluated
  *    in a task.
  *
  * Mobility results print through `asText`, binaries as hex, timestamps
  * and intervals through a string cast. Inputs follow FIXTURES.md §2–4
  * and SURVEY §2.2; the goldens quoted there (timezone normalization,
  * sorted sets, `SequenceSet`, the `2 days` boundspan duration, the
  * geodetic `SRID=4326;` prefix) are pinned verbatim. */
class MobSurfaceSpec extends SessionSuite {

  override protected def cores = 2

  override def beforeAll(): Unit = {
    super.beforeAll()
    // a fresh registry: only what GraftFunctions registers is scala_udf
    spark = spark.newSession()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    GraftFunctions.register(spark)
  }

  /** One pinned call: function, argument expressions, printed result. */
  private case class P(fn: String, args: Seq[String], want: String) {
    def call(as: Seq[String]): String = as.mkString(s"$fn(", ", ", ")")
    override def toString: String = call(args)
  }

  private def registeredNames: Seq[String] = {
    val reg = spark.sessionState.functionRegistry
    reg.listFunction()
      .filter(id => reg.lookupFunction(id).exists(_.getSource == "scala_udf"))
      .map(_.funcName.toLowerCase).distinct.sorted
  }

  private def render(e: String, dt: DataType): String = dt match {
    case _: StructType => s"asText($e)"
    case ArrayType(_: StructType, _) => s"transform($e, x -> asText(x))"
    case TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
      s"CAST($e AS STRING)"
    case BinaryType => s"hex($e)"
    case _ => e
  }

  private def show(v: Any): String = v match {
    case null => "NULL"
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ", ", "]")
    case other => other.toString
  }

  private def first(sql: String): String =
    show(spark.sql(sql).collect()(0).get(0))

  private def literalPath(p: P): String = {
    val call = p.call(p.args)
    first(s"SELECT ${render(call, spark.sql(s"SELECT $call").schema(0).dataType)}")
  }

  private def columnPath(p: P): String = {
    val cols = p.args.indices.map(i => s"c$i")
    val from = if (p.args.isEmpty) "" else
      s" FROM (SELECT /*+ REPARTITION(2) */ * FROM VALUES " +
        s"(${p.args.mkString(", ")}) AS v(${cols.mkString(", ")}))"
    val call = p.call(cols)
    val dt = spark.sql(s"SELECT $call$from").schema(0).dataType
    first(s"SELECT ${render(call, dt)}$from")
  }

  // ---- shared inputs ----
  private val ti = "tint('{1@2000-01-01, 2@2000-01-02, 1@2000-01-03}')"
  private val tiSeq = "tint('[1@2000-01-01, 3@2000-01-03]')"
  private val tiSS =
    "tint('{[1@2000-01-01, 2@2000-01-02],[3@2000-01-04, 3@2000-01-05]}')"
  private val tf = "tfloat('[1@2000-01-01, 3@2000-01-03]')"
  private val tb = "tbool('[t@2000-01-01, f@2000-01-02, t@2000-01-03]')"
  private val tt = "ttext('[a@2000-01-01, b@2000-01-02]')"
  private val tp = "tgeompoint('[Point(0 0)@2000-01-01, Point(2 0)@2000-01-03]')"
  private val tp2 = "tgeompoint('[Point(0 1)@2000-01-01, Point(2 1)@2000-01-03]')"
  private val tg = "tgeometry('[Point(1 1)@2000-01-01, Point(2 2)@2000-01-02]')"
  private val iss = "intspanset('{[1,3), [4,6)}')"
  private val fss = "floatspanset('{[1.5, 2.5], [3, 4]}')"
  private val tbx = "tbox('TBOXINT XT([1, 2],[2001-01-01, 2001-01-02])')"
  private val tbxF = "tbox('TBOXFLOAT XT([1.5, 2.5],[2001-01-01, 2001-01-02])')"
  private val sbX = "stbox('STBOX X((1.0,2.0),(3.0,4.0))')"
  private val sbZ = "stbox('STBOX Z((1,2,3),(4,5,6))')"
  private val sbXT = "stbox('STBOX XT(((1,2),(3,4)),[2001-01-01, 2001-01-02])')"
  private val sbT = "stbox('STBOX T([2001-01-01, 2001-01-02])')"
  private val sbGeod = "stbox('GEODSTBOX Z((1,2,3),(1,2,3))')"
  private val gs = """geomset('{"Point(1 1)", "Point(2 2)"}')"""
  private val pt = "st_point(1, 2)"
  private val sq = "st_geomfromtext('POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))')"
  private val win = "st_geomfromtext('POLYGON((2 2, 6 2, 6 6, 2 6, 2 2))')"
  private val line = "st_geomfromtext('LINESTRING(0 0, 3 4)')"
  private val day = "INTERVAL '1' DAY"
  private val ts = "TIMESTAMP '2000-01-02 00:00:00'"

  private val cases: Seq[P] = Seq(
    // ---- constructors ----
    P("tint", Seq("'100@2025-01-01 10:00:00+05'"), "100@2025-01-01 05:00:00+00"),
    P("tint", Seq("42", "TIMESTAMP '2023-01-01 12:00:00'"), "42@2023-01-01 12:00:00+00"),
    P("tbool", Seq("'[t@2000-01-01, f@2000-01-02]'"),
      "[t@2000-01-01 00:00:00+00, f@2000-01-02 00:00:00+00]"),
    P("tbool", Seq("true", ts), "t@2000-01-02 00:00:00+00"),
    P("tfloat", Seq("'{1.5@2000-01-01, 2.5@2000-01-02}'"),
      "{1.5@2000-01-01 00:00:00+00, 2.5@2000-01-02 00:00:00+00}"),
    P("tfloat", Seq("1.5", ts), "1.5@2000-01-02 00:00:00+00"),
    P("ttext", Seq("'[a@2000-01-01, b@2000-01-02]'"),
      """["a"@2000-01-01 00:00:00+00, "b"@2000-01-02 00:00:00+00]"""),
    P("ttext", Seq("'x'", ts), """"x"@2000-01-02 00:00:00+00"""),
    P("tgeompoint", Seq("'Point(1 1)@2000-01-01'"), "POINT(1 1)@2000-01-01 00:00:00+00"),
    P("tgeompoint", Seq(pt, ts), "POINT(1 2)@2000-01-02 00:00:00+00"),
    P("tgeogpoint", Seq("'Point(1 1)@2000-01-01'"), "POINT(1 1)@2000-01-01 00:00:00+00"),
    P("intspan", Seq("'[3, 5)'"), "[3, 5)"),
    P("intspan", Seq("1", "4"), "[1, 4)"),
    P("bigintspan", Seq("'[3, 5]'"), "[3, 6)"),
    P("floatspan", Seq("'[1.5, 3.5]'"), "[1.5, 3.5]"),
    P("floatspan", Seq("1.5", "3.5", "true", "true"), "[1.5, 3.5]"),
    P("datespan", Seq("'[2001-01-01, 2001-02-03)'"), "[2001-01-01, 2001-02-03)"),
    P("tstzspan", Seq("'[2000-01-01, 2000-01-02]'"),
      "[2000-01-01 00:00:00+00, 2000-01-02 00:00:00+00]"),
    P("tstzspan", Seq("TIMESTAMP '2000-01-01'", ts),
      "[2000-01-01 00:00:00+00, 2000-01-02 00:00:00+00)"),
    P("period", Seq("'[2000-01-01, 2000-01-02]'"),
      "[2000-01-01 00:00:00+00, 2000-01-02 00:00:00+00]"),
    P("intset", Seq("'{-1,-3,3}'"), "{-3, -1, 3}"),
    P("intset", Seq("array(3, 1, 2)"), "{1, 2, 3}"),
    P("bigintset", Seq("'{1, 2}'"), "{1, 2}"),
    P("floatset", Seq("'{2.5, 1.5}'"), "{1.5, 2.5}"),
    P("textset", Seq("""'{"highway", "car", "bike"}'"""), """{"bike", "car", "highway"}"""),
    P("dateset", Seq("'{2001-01-03, 2001-01-01}'"), "{2001-01-01, 2001-01-03}"),
    P("tstzset", Seq("'{2001-01-01 08:00:00, 2001-01-03 09:30:00}'"),
      """{"2001-01-01 08:00:00+00", "2001-01-03 09:30:00+00"}"""),
    P("intspanset", Seq("'{[1,3), [4,6)}'"), "{[1, 3), [4, 6)}"),
    P("bigintspanset", Seq("'{[1,3), [2,6)}'"), "{[1, 6)}"),
    P("floatspanset", Seq("'{[1.5, 2.5], [3, 4]}'"), "{[1.5, 2.5], [3, 4]}"),
    P("datespanset", Seq("'{[2001-01-01, 2001-01-03)}'"), "{[2001-01-01, 2001-01-03)}"),
    P("tstzspanset", Seq("'{[2001-01-01, 2001-01-03]}'"),
      "{[2001-01-01 00:00:00+00, 2001-01-03 00:00:00+00]}"),
    P("textspanset", Seq("""'{["a", "c"], ["b", "d"]}'"""), """{["a", "d"]}"""),
    P("spanset", Seq("array(intspan('[1,3)'), intspan('[2,5)'))"), "{[1, 5)}"),
    P("set", Seq("array(3, 1, 2)"), "{1, 2, 3}"),
    P("tbox", Seq("'TBOXINT XT([1, 2],[2001-01-01, 2001-01-02])'"),
      "TBOXINT XT([1, 3),[2001-01-01 00:00:00+00, 2001-01-02 00:00:00+00])"),
    P("tbox", Seq("5", "TIMESTAMP '2001-01-01'"),
      "TBOXINT XT([5, 6),[2001-01-01 00:00:00+00, 2001-01-01 00:00:00+00])"),
    P("stbox", Seq("'GEODSTBOX Z((1,2,3),(1,2,3))'"), "SRID=4326;GEODSTBOX Z((1,2,3),(1,2,3))"),
    P("stbox", Seq(pt, "tstzspan('[2001-01-01, 2001-01-02]')"),
      "STBOX XT(((1,2),(1,2)),[2001-01-01 00:00:00+00, 2001-01-02 00:00:00+00])"),
    P("tintseq", Seq("array(tint('1@2000-01-01'), tint('2@2000-01-02'))"),
      "[1@2000-01-01 00:00:00+00, 2@2000-01-02 00:00:00+00]"),
    P("tboolseq", Seq("array(tbool('t@2000-01-01'), tbool('f@2000-01-02'))"),
      "[t@2000-01-01 00:00:00+00, f@2000-01-02 00:00:00+00]"),
    P("tfloatseq",
      Seq("array(tfloat('1@2000-01-01'), tfloat('2@2000-01-02'))", "'step'"), "[1@2000-01-01 00:00:00+00, 2@2000-01-02 00:00:00+00]"),
    P("tintseqset", Seq(s"array($tiSeq, tint('[5@2000-01-04, 5@2000-01-05]'))"),
      "{[1@2000-01-01 00:00:00+00, 3@2000-01-03 00:00:00+00], [5@2000-01-04 00:00:00+00, 5@2000-01-05 00:00:00+00]}"),
    P("tboolseqset", Seq("array(tbool('[t@2000-01-01, t@2000-01-02]'))"),
      "{[t@2000-01-01 00:00:00+00, t@2000-01-02 00:00:00+00]}"),
    P("tfloatseqset", Seq(s"array($tf)"), "{[1@2000-01-01 00:00:00+00, 3@2000-01-03 00:00:00+00]}"),
    P("tgeompointseq", Seq("array(tgeompoint('Point(0 0)@2000-01-01'), " +
      "tgeompoint('Point(1 1)@2000-01-02'))"), "[POINT(0 0)@2000-01-01 00:00:00+00, POINT(1 1)@2000-01-02 00:00:00+00]"),
    P("tgeompointseqset", Seq(s"array($tp)"),
      "{[POINT(0 0)@2000-01-01 00:00:00+00, POINT(2 0)@2000-01-03 00:00:00+00]}"),
    P("tgeometry", Seq("'Point(1 1)@2000-01-01'"), "POINT(1 1)@2000-01-01 00:00:00+00"),
    P("tgeometry", Seq("'Point(1 1)'", "tstzspan('[2000-01-01, 2000-01-02]')"),
      "[POINT(1 1)@2000-01-01 00:00:00+00, POINT(1 1)@2000-01-02 00:00:00+00]"),
    P("tgeometryseq", Seq("array(tgeometry('Point(1 1)@2000-01-01'), " +
      "tgeometry('Point(2 2)@2000-01-02'))"), "[POINT(1 1)@2000-01-01 00:00:00+00, POINT(2 2)@2000-01-02 00:00:00+00]"),
    P("tgeometryinst", Seq("tgeometry('Point(1 1)@2000-01-01')"),
      "POINT(1 1)@2000-01-01 00:00:00+00"),
    P("merge", Seq("tint('1@2000-01-01')", "tint('2@2000-01-02')"),
      "{1@2000-01-01 00:00:00+00, 2@2000-01-02 00:00:00+00}"),
    P("geomset", Seq("""'{"Point(1 1)", "Point(2 2)"}'"""), """{"POINT(1 1)", "POINT(2 2)"}"""),
    P("geogset", Seq("""'{"Point(1 1)"}'"""), """{"POINT(1 1)"}"""),
    // ---- output ----
    P("astext", Seq("floatset('{1.12345, 2}')", "2"), "{1.12, 2}"),
    P("astext", Seq(tp), "[POINT(0 0)@2000-01-01 00:00:00+00, POINT(2 0)@2000-01-03 00:00:00+00]"),
    P("asewkt", Seq("tgeompoint('SRID=3812;Point(1 1)@2000-01-01')"),
      "SRID=3812;POINT(1 1)@2000-01-01 00:00:00+00"),
    P("st_astext", Seq(pt), "POINT (1 2)"),
    P("tempsubtype", Seq(tiSS), "SequenceSet"),
    P("interp", Seq(tf), "Linear"),
    // ---- accessors ----
    P("memsize", Seq("intset('{1, 2, 3}')"), "48"),
    P("numvalues", Seq("intset('{1, 2, 3}')"), "3"),
    P("numinstants", Seq(ti), "3"),
    P("numtimestamps", Seq(ti), "3"),
    P("startvalue", Seq(ti), "1"),
    P("endvalue", Seq(tf), "3.0"),
    P("minvalue", Seq(ti), "1"),
    P("maxvalue", Seq(tt), "b"),
    P("valuen", Seq("intset('{5, 6, 7}')", "2"), "6"),
    P("getvalue", Seq("tint('5@2000-01-01')"), "5"),
    P("getvalues", Seq(ti), "{1, 2}"),
    P("mininstant", Seq(ti), "1@2000-01-01 00:00:00+00"),
    P("maxinstant", Seq(ti), "2@2000-01-02 00:00:00+00"),
    P("instantn", Seq(ti, "2"), "2@2000-01-02 00:00:00+00"),
    P("startinstant", Seq(tg), "POINT(1 1)@2000-01-01 00:00:00+00"),
    P("endinstant", Seq(tp), "POINT(2 0)@2000-01-03 00:00:00+00"),
    P("gettimestamp", Seq("tint('5@2000-01-01')"), "2000-01-01 00:00:00"),
    P("starttimestamp", Seq(ti), "2000-01-01 00:00:00"),
    P("endtimestamp", Seq(tp), "2000-01-03 00:00:00"),
    P("gettime", Seq(tiSS),
      "{[2000-01-01 00:00:00+00, 2000-01-02 00:00:00+00], [2000-01-04 00:00:00+00, 2000-01-05 00:00:00+00]}"),
    P("duration", Seq(ti, "true"), "INTERVAL '2 00:00:00' DAY TO SECOND"),
    P("duration", Seq(tiSS), "INTERVAL '2 00:00:00' DAY TO SECOND"),
    P("timespan", Seq(tp), "[2000-01-01 00:00:00+00, 2000-01-03 00:00:00+00]"),
    P("valuespan", Seq(ti), "[1, 3)"),
    P("valueset", Seq(tf), "{1, 3}"),
    P("sequences", Seq(tiSS),
      "[[1@2000-01-01 00:00:00+00, 2@2000-01-02 00:00:00+00], [3@2000-01-04 00:00:00+00, 3@2000-01-05 00:00:00+00]]"),
    P("numsequences", Seq(tiSS), "2"),
    P("sequencen", Seq(tiSS, "2"), "[3@2000-01-04 00:00:00+00, 3@2000-01-05 00:00:00+00]"),
    P("startsequence", Seq(tiSS), "[1@2000-01-01 00:00:00+00, 2@2000-01-02 00:00:00+00]"),
    P("endsequence", Seq(tiSS), "[3@2000-01-04 00:00:00+00, 3@2000-01-05 00:00:00+00]"),
    P("lower", Seq("intspan('[3, 5)')"), "3"),
    P("lower", Seq("""textset('{"AbC"}')"""), """{"abc"}"""),
    P("upper", Seq(fss), "4.0"),
    P("lowerinc", Seq("floatspan('(1.5, 3.5]')"), "false"),
    P("upperinc", Seq(iss), "0"),
    P("width", Seq(iss), "4"),
    P("width", Seq(iss, "true"), "5"),
    P("numspans", Seq(iss), "2"),
    P("startspan", Seq(fss), "[1.5, 2.5]"),
    P("endspan", Seq(iss), "[4, 6)"),
    P("spann", Seq(iss, "2"), "[4, 6)"),
    P("hasx", Seq(tbx), "true"),
    P("hast", Seq(sbX), "false"),
    P("hasz", Seq(sbZ), "true"),
    P("xmin", Seq(sbZ), "1.0"),
    P("xmax", Seq(tbxF), "2.5"),
    P("ymin", Seq(sbZ), "2.0"),
    P("ymax", Seq(sbZ), "5.0"),
    P("zmin", Seq(sbZ), "3.0"),
    P("zmax", Seq(sbZ), "6.0"),
    P("xmininc", Seq(tbxF), "true"),
    P("xmaxinc", Seq(tbx), "false"),
    P("tmin", Seq(sbXT), "2001-01-01 00:00:00"),
    P("tmax", Seq(tbx), "2001-01-02 00:00:00"),
    P("tmininc", Seq(sbXT), "true"),
    P("tmaxinc", Seq(tbx), "true"),
    P("area", Seq(sbX), "4.0"),
    P("isgeodetic", Seq(sbGeod), "true"),
    P("srid", Seq(sbGeod), "4326"),
    // ---- transforms ----
    P("shift", Seq("intspan('[1, 3)')", "2"), "[3, 5)"),
    P("shift", Seq("tstzspan('[2000-01-01, 2000-01-02]')", day),
      "[2000-01-02 00:00:00+00, 2000-01-03 00:00:00+00]"),
    P("scale", Seq("floatspan('[1, 3]')", "4"), "[1, 5]"),
    P("shiftscale", Seq("intset('{1, 2, 3}')", "1", "4"), "{2, 4, 7}"),
    P("round", Seq("floatset('{1.26, 2.34}')", "1"), "{1.3, 2.3}"),
    P("round", Seq(tf), "[1@2000-01-01 00:00:00+00, 3@2000-01-03 00:00:00+00]"),
    P("floor", Seq("floatset('{1.5, -2.5}')"), "{-3, 1}"),
    P("ceil", Seq("floatset('{1.5, -2.5}')"), "{-2, 2}"),
    P("radians", Seq("floatset('{180}')"), "{3.141592653589793}"),
    P("degrees", Seq("floatset('{-3.141592653589793}')", "true"), "{180}"),
    P("initcap", Seq("""textset('{"abc", "DEF"}')"""), """{"Abc", "Def"}"""),
    P("asbinary", Seq(sbX),
      "3FF00000000000004008000000000000400000000000000040100000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000008"),
    P("stboxfrombinary", Seq(s"asbinary($sbXT)"),
      "STBOX XT(((1,2),(3,4)),[2001-01-01 00:00:00+00, 2001-01-02 00:00:00+00])"),
    P("shiftvalue", Seq(ti, "2"),
      "{3@2000-01-01 00:00:00+00, 4@2000-01-02 00:00:00+00, 3@2000-01-03 00:00:00+00}"),
    P("scalevalue", Seq(tf, "4"), "[1@2000-01-01 00:00:00+00, 5@2000-01-03 00:00:00+00]"),
    P("shiftscalevalue", Seq(tbxF, "1", "4"),
      "TBOXFLOAT XT([2.5, 6.5],[2001-01-01 00:00:00+00, 2001-01-02 00:00:00+00])"),
    P("shifttime", Seq(ti, day),
      "{1@2000-01-02 00:00:00+00, 2@2000-01-03 00:00:00+00, 1@2000-01-04 00:00:00+00}"),
    P("scaletime", Seq(tbx, "INTERVAL '4' DAY"),
      "TBOXINT XT([1, 3),[2001-01-01 00:00:00+00, 2001-01-05 00:00:00+00])"),
    P("shiftscaletime", Seq(tiSeq, day, "INTERVAL '4' DAY"),
      "[1@2000-01-02 00:00:00+00, 3@2000-01-06 00:00:00+00]"),
    P("expandvalue", Seq(tbxF, "1"),
      "TBOXFLOAT XT([0.5, 3.5],[2001-01-01 00:00:00+00, 2001-01-02 00:00:00+00])"),
    P("expandtime", Seq(sbT, day), "STBOX T([2000-12-31 00:00:00+00, 2001-01-03 00:00:00+00])"),
    P("expandspace", Seq(sbX, "1"), "STBOX X((0,1),(4,5))"),
    P("setsrid", Seq(gs, "3812"), """{"POINT(1 1)", "POINT(2 2)"}"""),
    P("transform", Seq("tgeompoint('SRID=4326;Point(4.35 50.85)@2000-01-01')", "3857"),
      "POINT(484239.78495074 6594803.227460435)@2000-01-01 00:00:00+00"),
    P("setinterp", Seq(tg, "'step'"),
      "[POINT(1 1)@2000-01-01 00:00:00+00, POINT(2 2)@2000-01-02 00:00:00+00]"),
    // ---- restriction ----
    P("attime", Seq(tf, "tstzspan('[2000-01-01 12:00:00, 2000-01-02]')"),
      "[1.5@2000-01-01 12:00:00+00, 2@2000-01-02 00:00:00+00]"),
    P("attime", Seq(tp, "TIMESTAMP '2000-01-02'"), "[POINT(1 0)@2000-01-02 00:00:00+00]"),
    P("atvalues", Seq(tb, "true"),
      "{[t@2000-01-01 00:00:00+00, t@2000-01-02 00:00:00+00), [t@2000-01-03 00:00:00+00]}"),
    P("valueattimestamp", Seq(tp, ts), "0101000000000000000000F03F0000000000000000"),
    P("atgeometry", Seq(tp,
      "st_geomfromtext('POLYGON((0.5 -1, 1.5 -1, 1.5 1, 0.5 1, 0.5 -1))')"), "[POINT(0.5 0)@2000-01-01 12:00:00+00, POINT(1.5 0)@2000-01-02 12:00:00+00]"),
    P("whentrue", Seq(tb),
      "{[2000-01-01 00:00:00+00, 2000-01-02 00:00:00+00), [2000-01-03 00:00:00+00, 2000-01-03 00:00:00+00]}"),
    // ---- spatial ----
    P("length", Seq(tp), "2.0"),
    P("speed", Seq(tp), "1.1574074074074073E-5"),
    P("trajectory", Seq(tp),
      "0102000000020000000000000000000000000000000000000000000000000000400000000000000000"),
    P("edwithin", Seq(tp, tp2, "1.5"), "true"),
    P("adisjoint", Seq(tp, tp2), "true"),
    P("tdwithin", Seq(tp, tp2, "1.0"), "[t@2000-01-01 00:00:00+00, t@2000-01-03 00:00:00+00]"),
    P("mindistance", Seq(tp, tp2), "1.0"),
    P("st_point", Seq("1", "2"), "0101000000000000000000F03F0000000000000040"),
    P("st_transform", Seq("st_point(4.35, 50.85)"), "01010000007520CA233F8E1D4136B68ECE3C285941"),
    P("st_transform", Seq("st_point(4.35, 50.85)", "4326", "3812"),
      "01010000005BEC3B09CECB234150997C1CB67A2441"),
    P("st_x", Seq(pt), "1.0"),
    P("st_y", Seq(pt), "2.0"),
    P("st_geomfromtext", Seq("'LINESTRING(0 0, 1 1)'"),
      "01020000000200000000000000000000000000000000000000000000000000F03F000000000000F03F"),
    P("st_intersects", Seq(sq, win), "true"),
    P("st_contains", Seq(sq, pt), "true"),
    P("st_distance", Seq("st_point(0, 0)", "st_point(3, 4)"), "5.0"),
    P("st_collect", Seq(s"array($pt, st_point(3, 4))"),
      "0107000000020000000101000000000000000000F03F0000000000000040010100000000000000000008400000000000001040"),
    P("st_area", Seq(sq), "16.0"),
    P("st_perimeter", Seq(sq), "16.0"),
    P("st_length", Seq(line), "5.0"),
    P("st_npoints", Seq(sq), "5"),
    P("st_isvalid", Seq(sq), "true"),
    P("st_centroid", Seq(line), "0101000000000000000000F83F0000000000000040"),
    P("st_envelope", Seq(line),
      "010300000001000000050000000000000000000000000000000000000000000000000008400000000000000000000000000000084000000000000010400000000000000000000000000000104000000000000000000000000000000000"),
    P("st_buffer", Seq("st_point(0, 0)", "1.0", "4"),
      "01030000000100000011000000000000000000F03F0000000000000000468D32CF6B90ED3F63A9AEA6E27DD83FCD3B7F669EA0E63FCC3B7F669EA0E63F64A9AEA6E27DD83F468D32CF6B90ED3F075C143326A6913C000000000000F03F62A9AEA6E27DD8BF468D32CF6B90ED3FCC3B7F669EA0E6BFCD3B7F669EA0E63F468D32CF6B90EDBF65A9AEA6E27DD83F000000000000F0BF075C143326A6A13C478D32CF6B90EDBF61A9AEA6E27DD8BFCE3B7F669EA0E6BFCC3B7F669EA0E6BF6DA9AEA6E27DD8BF448D32CF6B90EDBF0A8A9E4C3979AABC000000000000F0BF67A9AEA6E27DD83F458D32CF6B90EDBFCB3B7F669EA0E63FCE3B7F669EA0E6BF448D32CF6B90ED3F6EA9AEA6E27DD8BF000000000000F03F0000000000000000"),
    P("st_makepolygon",
      Seq("array(0.0D, 1.0D, 1.0D, 0.0D)", "array(0.0D, 0.0D, 1.0D, 0.0D)"), "0103000000010000000400000000000000000000000000000000000000000000000000F03F0000000000000000000000000000F03F000000000000F03F00000000000000000000000000000000"),
    P("st_clip_rect", Seq(sq, "1.0", "1.0", "3.0", "3.0"),
      "0103000000010000000500000000000000000008400000000000000840000000000000F03F0000000000000840000000000000F03F000000000000F03F0000000000000840000000000000F03F00000000000008400000000000000840"),
    P("st_intersection", Seq(sq, win),
      "010300000001000000050000000000000000000040000000000000004000000000000010400000000000000040000000000000104000000000000010400000000000000040000000000000104000000000000000400000000000000040"),
    P("st_union_area", Seq(sq, win), "28.0"),
    P("st_makeline", Seq("array(0.0D, 1.0D)", "array(0.0D, 2.0D)"),
      "01020000000200000000000000000000000000000000000000000000000000F03F0000000000000040"),
    P("st_ngeometries", Seq(s"st_collect(array($pt, $pt))"), "2"),
    P("st_diff_rect", Seq(sq, "1.0", "1.0", "3.0", "3.0"),
      "01060000000400000001030000000100000005000000000000000000F03F0000000000000000000000000000F03F00000000000010400000000000000000000000000000104000000000000000000000000000000000000000000000F03F0000000000000000010300000001000000050000000000000000000840000000000000000000000000000010400000000000000000000000000000104000000000000010400000000000000840000000000000104000000000000008400000000000000000010300000001000000050000000000000000000840000000000000F03F000000000000F03F000000000000F03F000000000000F03F0000000000000000000000000000084000000000000000000000000000000840000000000000F03F010300000001000000050000000000000000000840000000000000084000000000000008400000000000001040000000000000F03F0000000000001040000000000000F03F000000000000084000000000000008400000000000000840"),
    P("set_elements", Seq("tstzset('{2001-01-01, 2001-01-03}')"),
      "[2001-01-01 00:00:00+00, 2001-01-03 00:00:00+00]"),
    P("collect_gs", Seq(s"array($pt)"),
      "0107000000010000000101000000000000000000F03F0000000000000040"),
    P("trajectory_gs", Seq(tp),
      "0102000000020000000000000000000000000000000000000000000000000000400000000000000000"),
    P("distance_gs", Seq("st_point(0, 0)", "st_point(3, 4)"), "5.0"),
    // ---- topological operators ----
    P("op_overlaps", Seq(tp, sbX), "false"),
    P("op_overlaps", Seq("intspan('[1, 3)')", "intspan('[2, 5)')"), "true"),
    P("op_contains", Seq("tstzspan('[2000-01-01, 2000-01-03]')", ts), "true"),
    P("op_contained", Seq("intspan('[2, 3)')", "intspan('[1, 5)')"), "true"),
    P("op_adjacent", Seq("intspan('[1, 3)')", "intspan('[3, 5)')"), "true"),
    // ---- casts ----
    P("to_stbox", Seq(tp),
      "STBOX XT(((0,0),(2,0)),[2000-01-01 00:00:00+00, 2000-01-03 00:00:00+00])"),
    P("to_tbox", Seq(ti), "TBOXINT XT([1, 3),[2000-01-01 00:00:00+00, 2000-01-03 00:00:00+00])"),
    P("to_tstzspan", Seq(tp), "[2000-01-01 00:00:00+00, 2000-01-03 00:00:00+00]"),
    P("to_intspan", Seq("intset('{1, 5}')"), "[1, 6)"),
    P("to_bigintspan", Seq("floatspan('[1.5, 3.5]')"), "[1, 4)"),
    P("to_datespan", Seq("DATE '2001-01-01'"), "[2001-01-01, 2001-01-02)"),
    P("to_floatspan", Seq("intspan('[1, 3)')"), "[1, 2]"),
    P("to_tstzspanset", Seq("datespan('[2001-01-01, 2001-01-03)')"),
      "{[2001-01-01 00:00:00+00, 2001-01-03 00:00:00+00)}"),
    P("to_intspanset", Seq("intset('{1, 2, 5}')"), "{[1, 3), [5, 6)}"),
    P("to_bigintspanset", Seq("intspan('[1, 3)')"), "{[1, 3)}"),
    P("to_datespanset", Seq("tstzspanset('{[2001-01-01, 2001-01-02 12:00:00)}')"),
      "{[2001-01-01, 2001-01-03)}"),
    P("to_floatspanset", Seq(iss), "{[1, 2], [4, 5]}"),
    P("to_tfloat", Seq(ti),
      "{1@2000-01-01 00:00:00+00, 2@2000-01-02 00:00:00+00, 1@2000-01-03 00:00:00+00}"),
    P("to_tstzset", Seq("dateset('{2001-01-01}')"), """{"2001-01-01 00:00:00+00"}"""),
    P("to_intset", Seq("floatset('{1.5, 2.5}')"), "{1, 2}"),
    P("to_dateset", Seq("tstzset('{2001-01-01 12:00:00}')"), "{2001-01-01}"),
    P("to_floatset", Seq("intset('{1, 2}')"), "{1, 2}"),
    P("to_textset", Seq("""textset('{"a"}')"""), """{"a"}"""),
    P("to_geometry", Seq(line), "LINESTRING (0 0, 3 4)"),
    P("geometry", Seq(sbX), "POLYGON ((1 2, 3 2, 3 4, 1 4, 1 2))"),
    P("span", Seq("intset('{1, 5}')"), "[1, 6)"),
    P("span", Seq(fss), "[1.5, 4]"))

  test("every registered mobility name has a pinned case") {
    val names = registeredNames
    assert(names.size > 150, s"registry lists only ${names.size} mobility names")
    val pinned = cases.map(_.fn).toSet
    val missing = names.filterNot(pinned)
    assert(missing.isEmpty, s"no pinned case for: ${missing.mkString(", ")}")
    val unknown = pinned.filterNot(names.toSet)
    assert(unknown.isEmpty, s"pinned but not registered: ${unknown.mkString(", ")}")
  }

  test("the column path evaluates in a task, not in a driver-side fold") {
    val p = P("intspan", Seq("1", "4"), "")
    val cols = "FROM (SELECT /*+ REPARTITION(2) */ * FROM VALUES (1, 4) AS v(c0, c1))"
    val plan = spark.sql(s"SELECT asText(intspan(c0, c1)) $cols")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"), plan)
    assert(columnPath(p) == "[1, 4)")
  }

  for ((p, i) <- cases.zipWithIndex) test(s"#$i $p") {
    val lit = literalPath(p)
    val col = columnPath(p)
    assert(lit == p.want && col == p.want,
      s"literal=<<$lit>> column=<<$col>> want=<<${p.want}>>")
  }
}
