// Hosted under org.apache.spark.sql for access to the private[sql]
// sessionState/FunctionRegistry of the public Spark jars.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}

/** SQL-facing registration of graft's native expressions, so every
  * operator is reachable from pure `spark.sql(...)` text as well as
  * the Column API:
  *
  * {{{
  *   // spark-submit --conf spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  *   spark.sql("SELECT vec_dot(a.embedding, b.embedding) FROM ...")
  *   spark.sql("SELECT explode(window_starts('sliding', ev, 6000000, 1800000))")
  *   spark.sql("SELECT md5_winnow_fingerprint(text, 16, 8) FROM documents")
  * }}}
  *
  * Two entry points, same function set: [[GraftExtensions]] for the
  * `spark.sql.extensions` conf (applies at session build), and
  * [[GraftFunctions.register]] for an already-running session (e.g.
  * tests, notebooks). Fixed parameters (fingerprint window/winnow)
  * are taken from integer literals at resolution time.
  */
object GraftFunctions {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  private def expectArgs(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.size != n) throw new IllegalArgumentException(
      s"$name expects $n arguments, got ${args.size}")

  /** (name, builder) for every SQL-exposed graft function. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> { args =>
      expectArgs("vec_dot", args, 2); VecDot(args(0), args(1))
    },
    "vec_norm" -> { args =>
      expectArgs("vec_norm", args, 1)
      org.apache.spark.sql.catalyst.expressions.Sqrt(VecDot(args(0), args(0)))
    },
    "word_shingles" -> { args =>
      expectArgs("word_shingles", args, 2)
      WordShingles(args(0), litInt(args(1), "n"))
    },
    "window_starts" -> { args =>
      expectArgs("window_starts", args, 4)
      WindowStartsExpr(args :+ Literal(0L)) // the epoch grid
    },
    "metric_route" -> { args =>
      expectArgs("metric_route", args, 1); MetricRoute(args(0))
    },
    "gram_stats" -> { args =>
      expectArgs("gram_stats", args, 2)
      GramStats(args(0), litInt(args(1), "n"))
    },
    "word_tokens" -> { args =>
      expectArgs("word_tokens", args, 1); WordTokens(args(0))
    },
    "array_shingles" -> { args =>
      expectArgs("array_shingles", args, 2)
      ArrayShingles(args(0), litInt(args(1), "n"))
    },
    "word_shingle_hashes" -> { args =>
      expectArgs("word_shingle_hashes", args, 2)
      WordShingleHashes(args(0), litInt(args(1), "n"))
    },
    "array_shingle_hashes" -> { args =>
      expectArgs("array_shingle_hashes", args, 2)
      ArrayShingleHashes(args(0), litInt(args(1), "n"))
    },
    "array_gram_stats" -> { args =>
      expectArgs("array_gram_stats", args, 2)
      ArrayGramStats(args(0), litInt(args(1), "n"))
    },
    "compress_ratio" -> { args =>
      expectArgs("compress_ratio", args, 1); CompressRatio(args(0))
    },
    "bpe_token_count" -> { args =>
      expectArgs("bpe_token_count", args, 1); BpeTokenCount(args(0))
    },
    // bpe_encode is Column-API-only: its merge list is a model object,
    // not a literal (same status as trigram_scores / marker_counts).
    "bpe_byte_decode" -> { args =>
      expectArgs("bpe_byte_decode", args, 1); BpeByteDecode(args(0))
    },
    "hashed_token_counts" -> { args =>
      expectArgs("hashed_token_counts", args, 2)
      HashedTokenCounts(args(0), litInt(args(1), "dim"))
    },
    // trigram_lm_score is Column-API-only (its model is a plan-shipped
    // object); the model-BUILD side has no model argument and
    // registers fine.
    "char_trigram_counts" -> { args =>
      expectArgs("char_trigram_counts", args, 1); CharTrigramCounts(args(0))
    },
    "rolling_fingerprint" -> { args =>
      expectArgs("rolling_fingerprint", args, 3)
      RollingHashFingerprint(args(0),
        litInt(args(1), "window"), litInt(args(2), "winnow"))
    },
    "md5_winnow_fingerprint" -> { args =>
      expectArgs("md5_winnow_fingerprint", args, 3)
      Md5WinnowFingerprint(args(0),
        litInt(args(1), "window"), litInt(args(2), "winnow"))
    },
    "minhash_signature" -> { args =>
      expectArgs("minhash_signature", args, 2)
      MinhashSignature(args(0), litInt(args(1), "numHashes"))
    },
    "simhash_bands" -> { args =>
      expectArgs("simhash_bands", args, 2)
      SimhashBands(args(0), args(1) match {
        case Literal(b: Boolean, BooleanType) => b
        case other => throw new IllegalArgumentException(
          s"portable must be a boolean literal, got: $other")
      })
    },
    // psl_registrable_domain is Column-API-only: its rule set is a
    // parsed model object (same status as bpe_encode).
    "html_blocks" -> { args =>
      expectArgs("html_blocks", args, 1); HtmlBlocks(args(0))
    },
    "html_links" -> { args =>
      expectArgs("html_links", args, 1); HtmlLinks(args(0))
    },
    "robots_rules" -> { args =>
      expectArgs("robots_rules", args, 2); RobotsRules(args(0), args(1))
    },
    "robots_decision" -> { args =>
      expectArgs("robots_decision", args, 2)
      RobotsDecision(args(0), args(1))
    },
    "robots_crawl_delay" -> { args =>
      expectArgs("robots_crawl_delay", args, 2)
      RobotsCrawlDelay(args(0), args(1))
    },
    "mojibake_repair" -> { args =>
      expectArgs("mojibake_repair", args, 1); MojibakeRepair(args(0))
    },
    "mojibake_repair_count" -> { args =>
      expectArgs("mojibake_repair_count", args, 1)
      MojibakeRepairCount(args(0))
    },
    "unicode_normalize" -> { args =>
      expectArgs("unicode_normalize", args, 2)
      UnicodeNormalize(args(0), args(1) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String,
          StringType) => s.toString
        case other => throw new IllegalArgumentException(
          s"form must be a string literal, got: $other")
      })
    })

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft", name)

  /** Register into a live session's function registry. */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info(name), builder)
    }
  }

  private[graft] def inject(extensions: SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      extensions.injectFunction((FunctionIdentifier(name), info(name), builder))
    }
}

/** `--conf spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.inject(extensions)
}
