package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}

import graft.expr.{ExtractMainText, LangId, LshBucket, MinHashSig, NfcNormalize, SimHash64, SplitMix64, Winnow}

/** Session bootstrap: function registration + scale-oriented defaults.
  *
  * The reference validates its engine once at startup
  * (ocr_logic.py:12-55 configure_tesseract); our analogue registers the
  * extraction expressions in the session's function registry so both
  * the DataFrame API (`call_function`) and plain SQL can reach them.
  */
object GraftSession {

  /** Evaluate a plan-time-literal argument with a clear analysis error:
    * a non-foldable (column) or null argument to a literal slot (engine
    * name, k) would otherwise surface as an obscure NPE at plan time. */
  private def foldableArg(fn: String, pos: Int, e: Expression): Any = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a literal (plan-time constant), got ${e.sql}")
    val v = e.eval(null)
    if (v == null)
      throw new IllegalArgumentException(s"$fn: argument ${pos + 1} must not be null")
    v
  }

  /** `foldableArg` coerced to Int: any integer literal in Int range.
    * Fractional (3.7) or out-of-Int-range values error, never silently
    * truncate/wrap; `name` is the slot's name in the message. */
  private def intArg(fn: String, pos: Int, name: String, e: Expression): Int =
    foldableArg(fn, pos, e) match {
      case n: java.lang.Byte => n.intValue()
      case n: java.lang.Short => n.intValue()
      case n: java.lang.Integer => n.intValue()
      case n: java.lang.Long if n.longValue == n.intValue.toLong => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be an Int-range integer literal, got $other")
    }

  /** Name → expression builder for every graft function — the single
    * source of truth shared by `register` (temp functions) and
    * `GraftExtensions` (spark.sql.extensions), so the two registration
    * paths can never drift apart. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // optional 3rd arg: engine name as a foldable string literal
    // ("default" | "alt" | "both") — engine choice folds at plan time,
    // mirroring the reference's construction-time engine selection
    // (main_window.py:450 engine combo → OCRWorker ctor)
    "graft_extract" -> { exprs =>
      val engine =
        if (exprs.length >= 3)
          graft.extract.Engine.parse(
            foldableArg("graft_extract", 2, exprs(2)).toString)
        else graft.extract.Engine.Default
      ExtractMainText(exprs.head, exprs(1), engine)
    },
    "graft_simhash" -> (exprs => SimHash64(exprs.head)),
    "graft_minhash" -> (exprs => MinHashSig(exprs.head)),
    "graft_fingerprint" -> (exprs => Winnow(exprs.head)),
    "graft_langid" -> (exprs => LangId(exprs.head)),
    // analysis-time Cast (same treatment as graft_topk): a wrong-typed
    // argument fails analysis or coerces cleanly instead of surfacing
    // as a ClassCastException inside a task
    "graft_nfc" -> (exprs =>
      NfcNormalize(Cast(exprs.head, org.apache.spark.sql.types.StringType))),
    "graft_mix64" -> (exprs =>
      SplitMix64(Cast(exprs.head, org.apache.spark.sql.types.LongType))),
    "graft_fnv64" -> (exprs =>
      graft.expr.Fnv64(Cast(exprs.head, org.apache.spark.sql.types.StringType))),
    "graft_lsh_bucket" -> (exprs => LshBucket(exprs.head, exprs(1))),
    // membership probe against a plan-time-literal serialized Bloom
    // filter (exact-join pre-filter for over-broadcast membership
    // sides; foldability of arg 1 is checked by the expression itself)
    "graft_bloom_contains" -> (exprs =>
      graft.expr.BloomContains(exprs.head,
        Cast(exprs(1), org.apache.spark.sql.types.StringType))),
    "graft_explode_blocks" -> (exprs => graft.expr.ExplodeBlocks(exprs.head)),
    // html | binary both accepted (BINARY→STRING cast is utf-8 decode)
    "graft_outlinks" -> (exprs =>
      graft.expr.Outlinks(Cast(exprs.head, org.apache.spark.sql.types.StringType))),
    "graft_anchors" -> (exprs =>
      graft.expr.Anchors(Cast(exprs.head, org.apache.spark.sql.types.StringType))),
    "graft_meta" -> (exprs =>
      graft.expr.MetaTags(Cast(exprs.head, org.apache.spark.sql.types.StringType))),
    "graft_shingles" -> (exprs => graft.expr.Shingles(exprs.head)),
    // positional k-token window hashes (exact-substring dedup): k is a
    // plan-time literal, coerced like graft_topk's k
    "graft_token_windows" -> { exprs =>
      val k = intArg("graft_token_windows", 1, "k", exprs(1))
      if (k < 1)
        throw new IllegalArgumentException(
          s"graft_token_windows: k must be >= 1, got $k")
      graft.expr.TokenWindowHashes(
        Cast(exprs.head, org.apache.spark.sql.types.StringType), k)
    },
    "graft_make_pdf" -> (exprs => graft.expr.MakePdf(exprs.head, exprs(1), exprs(2))),
    // bounded top-k aggregate (scale-safe ANN ranking): 3rd arg is the
    // plan-time literal k; the analyzer wraps the returned
    // AggregateFunction like any built-in aggregate
    "graft_topk" -> { exprs =>
      val k = intArg("graft_topk", 2, "k", exprs(2))
      if (k < 0)
        throw new IllegalArgumentException(s"graft_topk: k must be >= 0, got $k")
      // analysis-time coercion: a float score / int id column casts
      // cleanly; an uncastable type fails analysis, never a task
      graft.expr.TopKAgg(
        Cast(exprs.head, org.apache.spark.sql.types.DoubleType),
        Cast(exprs(1), org.apache.spark.sql.types.LongType), k)
    },
    // bounded id-set aggregate (single-pass df-cap for inverted-index
    // pair generation): 2nd arg is the plan-time literal cap
    "graft_capped_ids" -> { exprs =>
      val cap = intArg("graft_capped_ids", 1, "cap", exprs(1))
      if (cap < 1)
        throw new IllegalArgumentException(
          s"graft_capped_ids: cap must be >= 1, got $cap")
      graft.expr.CappedIdsAgg(
        Cast(exprs.head, org.apache.spark.sql.types.LongType), cap)
    },
    // HyperLogLog register aggregate (scale-safe distinct sketch):
    // 2nd arg is the plan-time literal precision p
    "graft_hll" -> { exprs =>
      val p = intArg("graft_hll", 1, "p", exprs(1))
      graft.expr.HllAgg(
        Cast(exprs.head, org.apache.spark.sql.types.LongType), p)
    })

  /** Register the graft functions in `spark`'s registry, once: a name
    * the registry already holds (an earlier call, or GraftExtensions)
    * is left as it is. */
  def register(spark: SparkSession): SparkSession = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
    spark
  }

  /** Local session with the defaults every graft entry point uses:
    * shuffle partitions sized to cores (not 200), AQE + skew-join on,
    * UTC (byte-identity: no timezone leakage, SURVEY.md §7.7), and
    * `file://` on [[graft.tables.LocalFs]] (file modes without a
    * `chmod` process). Hadoop caches one `file://` instance per JVM and
    * the first `FileSystem.get` picks its class, so the setting holds
    * when this session is the JVM's first user of `file://`. */
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.tables.LocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    register(spark)
  }
}
