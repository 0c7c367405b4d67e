package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registers every [[MobFunctions]] name as a [[MobCall]] builder in the
  * session's function registry — the Spark equivalent of the reference's
  * `RegisterScalarFunction` block (ref src/mobilityduck_extension.cpp:102-138).
  * Call `GraftFunctions.register(spark)` once per session; then
  * `spark.sql("SELECT asText(atTime(tgeompoint '...', tstzspan '...'))")`
  * and `functions.call_function("attime", col, col)` both work.
  */
object GraftFunctions {

  // Register once per session: re-registering is harmless but makes
  // SimpleFunctionRegistry log a replace-WARN per name per call — hundreds
  // of noise lines that drowned the driver's JSON parse in round 1.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = {
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null) return
    val registry = spark.sessionState.functionRegistry
    // native codegen'd vector kernels (not MobCall dispatch)
    registry.createOrReplaceTempFunction("vec_dot",
      (e: Seq[Expression]) => VecDot(e(0), e(1)), "built-in")
    registry.createOrReplaceTempFunction("vec_inter_sorted",
      (e: Seq[Expression]) => SortedLongIntersect(e(0), e(1)), "built-in")
    registry.createOrReplaceTempFunction("minhash_sig",
      (e: Seq[Expression]) => MinHashSig(e(0)), "built-in")
    registry.createOrReplaceTempFunction("shingle3_hashes",
      (e: Seq[Expression]) => Shingle3Hashes(e(0)), "built-in")
    registry.createOrReplaceTempFunction("simhash64",
      (e: Seq[Expression]) => SimHash64(e(0)), "built-in")
    registry.createOrReplaceTempFunction("vec_nearest_cell",
      (e: Seq[Expression]) => VecNearestCell(e(0), e(1)), "built-in")
    registry.createOrReplaceTempFunction("vec_probe_cells",
      (e: Seq[Expression]) => VecProbeCells(e(0), e(1), e(2)), "built-in")
    // segment-pair kernels (BerlinMOD q6/q10/q16 hot path — former
    // ScalaUDFs, see SegExprs)
    registry.createOrReplaceTempFunction("seg_edwithin",
      (e: Seq[Expression]) => SegEDwithin(e(0), e(1), e(2)), "built-in")
    registry.createOrReplaceTempFunction("seg_touches",
      (e: Seq[Expression]) => SegTouches(e(0), e(1)), "built-in")
    registry.createOrReplaceTempFunction("seg_dwithin_spans",
      (e: Seq[Expression]) => SegDwithinSpans(e(0), e(1), e(2)), "built-in")
    registry.createOrReplaceTempFunction("pair_spanset_text",
      (e: Seq[Expression]) => PairSpansetText(e(0)), "built-in")
    registry.createOrReplaceTempFunction("hilbert_key",
      (e: Seq[Expression]) => HilbertKey(e(0), e(1)), "built-in")
    registry.createOrReplaceTempFunction("sq8_recon",
      (e: Seq[Expression]) => Sq8Recon(e(0), e(1), e(2)), "built-in")
    registry.createOrReplaceTempFunction("sq8_encode",
      (e: Seq[Expression]) => Sq8Encode(e(0), e(1), e(2)), "built-in")
    registry.createOrReplaceTempFunction("sq8_decode",
      (e: Seq[Expression]) => Sq8Decode(e(0), e(1), e(2)), "built-in")
    registry.createOrReplaceTempFunction("sq8_dot",
      (e: Seq[Expression]) => Sq8Dot(e(0), e(1), e(2), e(3)), "built-in")
    registry.createOrReplaceTempFunction("sq8_dot_cc",
      (e: Seq[Expression]) => Sq8DotCc(e(0), e(1), e(2), e(3)), "built-in")
    registry.createOrReplaceTempFunction("f32_pack",
      (e: Seq[Expression]) => F32Pack(e(0)), "built-in")
    registry.createOrReplaceTempFunction("f32_dot",
      (e: Seq[Expression]) => F32Dot(e(0), e(1)), "built-in")
    // bounded per-group top-k: topk_ordered(cap, key, id, payload)
    registry.createOrReplaceTempFunction("topk_ordered",
      (e: Seq[Expression]) => TopKOrderedAgg.fromArgs(e), "built-in")
    // Unicode canonicalization (DuckDB-compatible names/semantics)
    registry.createOrReplaceTempFunction("nfc_normalize",
      (e: Seq[Expression]) => UnicodeNormalize(e(0), "NFC"), "built-in")
    registry.createOrReplaceTempFunction("nfkc_normalize",
      (e: Seq[Expression]) => UnicodeNormalize(e(0), "NFKC"), "built-in")
    registry.createOrReplaceTempFunction("strip_accents",
      (e: Seq[Expression]) => StripAccents(e(0)), "built-in")
    MobFunctions.table.keys.toSeq.sorted.foreach { n =>
      // In Spark 4 even the Column API (functions.round etc.) resolves
      // through the session registry, so a name like `round`/`length`/
      // `lower` must keep its builtin behavior for non-mobility inputs:
      // dispatch to the builtin builder unless an argument is one of our
      // struct schemas (the overload dispatch DuckDB does on type aliases).
      val builtin = FunctionRegistry.builtin
        .lookupFunctionBuilder(FunctionIdentifier(n))
      registry.createOrReplaceTempFunction(
        n,
        (exprs: Seq[Expression]) => {
          val anyMob = exprs.exists(e =>
            scala.util.Try(MobSchemas.kindOf(e.dataType).isDefined)
              .getOrElse(false))
          if (anyMob || builtin.isEmpty) MobCall(n, exprs)
          else builtin.get(exprs)
        },
        "scala_udf")
    }
  }
}
