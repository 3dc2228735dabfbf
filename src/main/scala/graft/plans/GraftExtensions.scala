package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions registration for graft's custom Catalyst
  * pieces, so SQL users get them as first-class functions:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * spark.sql("SELECT vec_dot(a, b) FROM t")
  * spark.sql("SELECT type, hist_buckets(value, 50.0) FROM t GROUP BY type")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, builder) =>
      e.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo("graft", null, name, null, "", "", "", "", "", "", "built-in"),
          builder))
    }
    e.injectOptimizerRule(_ => HashRewriteRule)
  }
}

object GraftExtensions {
  /** Extract an integer literal argument (SQL-plane aggregates take
    * their tuning knob as a literal, like approx_count_distinct's rsd). */
  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
      v.toString.toDouble.toInt
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> { args =>
      require(args.length == 2, "vec_dot expects 2 arguments")
      FloatVectorDot(args(0), args(1))
    },
    "hist_buckets" -> { args =>
      require(args.length == 2, "hist_buckets expects 2 arguments")
      val width = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(w, _) =>
          w.toString.toDouble
        case other =>
          throw new IllegalArgumentException(
            s"hist_buckets width must be a literal, got $other")
      }
      HistogramAgg(args(0), width).toAggregateExpression()
    },
    "stable_hash60" -> { args =>
      require(args.length == 1, "stable_hash60 expects 1 argument")
      StableHash60(args(0))
    },
    "kmv_distinct" -> { args =>
      require(args.length == 2, "kmv_distinct expects (col, k)")
      KmvAgg(args(0), intLit(args(1), "kmv_distinct k")).toAggregateExpression()
    },
    "simhash_agg" -> { args =>
      require(args.length == 2, "simhash_agg expects (col, nBits)")
      SimhashAgg(args(0), intLit(args(1), "simhash_agg nBits"))
        .toAggregateExpression()
    },
    "space_saving" -> { args =>
      require(args.length == 2, "space_saving expects (col, k)")
      SpaceSavingAgg(args(0), intLit(args(1), "space_saving k"))
        .toAggregateExpression()
    },
    "nfc_normalize" -> { args =>
      require(args.length == 1, "nfc_normalize expects 1 argument")
      NfcNormalize(args(0))
    },
    "jaro_winkler" -> { args =>
      require(args.length == 2, "jaro_winkler expects 2 arguments")
      JaroWinkler(args(0), args(1))
    },
    "kmv_sketch" -> { args =>
      require(args.length == 2, "kmv_sketch expects (col, k)")
      KmvAgg.sketchAgg(args(0), intLit(args(1), "kmv_sketch k"))
        .toAggregateExpression()
    },
    "cov_moments" -> { args =>
      require(args.length == 2, "cov_moments expects (vec_col, dim)")
      CovarianceAgg(args(0), intLit(args(1), "cov_moments dim"))
        .toAggregateExpression()
    },
    "pq_adc_sum" -> { args =>
      require(args.length == 2, "pq_adc_sum expects (codes, lut)")
      PqAdcSum(args(0), args(1))
    },
    "sorted_intersect_count" -> { args =>
      require(args.length == 2, "sorted_intersect_count expects 2 arguments")
      SortedLongIntersectCount(args(0), args(1))
    })

  /** Register on an already-built session (withExtensions only applies
    * at build time; getOrCreate silently reuses existing sessions).
    * Idempotent: skips names the registry already resolves, so calling
    * this after extension injection does not log "function replaced"
    * WARNs from SimpleFunctionRegistry. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(HashRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ HashRewriteRule
  }
}
