package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftglue.{columnOf, eagerExpressionOf, expressionOf, scalaUdfOf}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

import graft.functions.{DotProduct, Hashing, NibbleHistogram, VectorExprs}
import graft.operators.Similarity

/** Session-extension entry point: registers graft's kernels as SQL
  * functions, so the WHOLE engine surface — including the sketch,
  * LSH-bucket, and vector kernels the dedup/ANN operators are built
  * from — is addressable as `spark.sql(...)` text anywhere the library
  * is on the classpath. This is the reference's delegated-SQL seam
  * (README.md:2 hands its analytics to BigQuery as SQL strings) done
  * natively: SqlParitySpec proves every registered query has a SQL-text
  * form that reproduces the DataFrame-API result exactly.
  *
  * Activate with:
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)          // programmatic, or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name),
        builder))
    }
    // plans the custom top-k-per-group logical node (partial + final
    // bounded heaps around a hash exchange) — see graft.plans.TopKPerGroup
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {
  private[graft] val dotBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "graft_dot(arrayA, arrayB) takes 2 arguments")
    // Cast to array<double> so SQL callers can pass array<float>/array<int>
    // (DotProduct itself rejects non-double storage at analysis time);
    // non-array arguments fail Cast's own analysis check.
    val widened = children.map(Cast(_, ArrayType(DoubleType)))
    DotProduct(widened.head, widened(1))
  }

  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INTEGER literal (plane sets are compiled " +
        s"into the expression tree), got $other")
  }

  /** Every graft kernel reachable from SQL text. The udf-backed sketch
    * kernels ([[Hashing]]) wrap the same single-pass JVM loops the
    * DataFrame operators call — SQL and DataFrame forms share one
    * implementation, so parity is structural, not coincidental. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> dotBuilder,
    // distinct hashed word-n-gram shingles of a document (array<bigint>)
    "graft_shingles" -> { children =>
      require(children.length == 2, "graft_shingles(text, n) takes 2 arguments")
      scalaUdfOf(Hashing.shingleHashesUdf, children)
    },
    // 16 MinHash LSH band keys over shingle hashes (array<bigint>)
    "graft_minhash_bands" -> { children =>
      require(children.length == 1, "graft_minhash_bands(hashes) takes 1 argument")
      scalaUdfOf(Hashing.minhashBandKeysUdf, children)
    },
    // the 64 per-permutation minima alone (d19's shared half)
    "graft_minhash_mins" -> { children =>
      require(children.length == 1, "graft_minhash_mins(hashes) takes 1 argument")
      scalaUdfOf(Hashing.minhashMinimaUdf, children)
    },
    // fold minima into band keys at a parametric geometry
    "graft_band_keys" -> { children =>
      require(children.length == 2, "graft_band_keys(mins, bands) takes 2 arguments")
      scalaUdfOf(Hashing.bandKeysAtUdf, children)
    },
    // 64-bit SimHash signature over shingle hashes (bigint)
    "graft_simhash" -> { children =>
      require(children.length == 1, "graft_simhash(hashes) takes 1 argument")
      scalaUdfOf(Hashing.simhash64Udf, children)
    },
    // 16 high-nibble byte counts of a binary payload (array<bigint>)
    "graft_nibble_hist" -> { children =>
      require(children.length == 1, "graft_nibble_hist(payload) takes 1 argument")
      expressionOf(VectorExprs.nibbleHistogram(columnOf(children.head)))
    },
    // 16 LOW-nibble byte counts — the m15 spectral-band axis
    "graft_low_nibble_hist" -> { children =>
      require(children.length == 1,
        "graft_low_nibble_hist(payload) takes 1 argument")
      expressionOf(VectorExprs.lowNibbleHistogram(columnOf(children.head)))
    },
    // integer-grid sign-LSH bucket key (string of nPlanes sign bits);
    // nPlanes/planeOffset must be literals — the plane components are
    // compiled into the expression tree (see Similarity.lshBucketInt)
    "graft_lsh_bucket" -> { children =>
      require(children.length == 3,
        "graft_lsh_bucket(v, nPlanes, planeOffset) takes 3 arguments")
      val nPlanes = litInt(children(1), "graft_lsh_bucket", "nPlanes")
      val off = litInt(children(2), "graft_lsh_bucket", "planeOffset")
      eagerExpressionOf(Similarity.lshBucketInt(
        columnOf(children.head), nPlanes, dim = 64, planeOffset = off))
    },
    // leftmost-greedy BPE encode of a word under a rank-ordered merge
    // list (two parallel string arrays) → symbol array
    "graft_bpe_apply" -> { children =>
      require(children.length == 3,
        "graft_bpe_apply(word, lefts, rights) takes 3 arguments")
      scalaUdfOf(graft.operators.TextOps.applyMergesUdf, children)
    },
    // FNV-1a 64-bit token hash (bigint)
    "graft_fnv64" -> { children =>
      require(children.length == 1, "graft_fnv64(s) takes 1 argument")
      scalaUdfOf(Hashing.fnv64Udf, children)
    },
    // t25 CMS cell per sketch row for a token hash (array<int>)
    "graft_cms_cells" -> { children =>
      require(children.length == 1, "graft_cms_cells(h) takes 1 argument")
      scalaUdfOf(Hashing.cmsCellsUdf, children)
    },
    // t26 stride-1 w-token window hashes, one per position (array<bigint>)
    "graft_window_hashes" -> { children =>
      require(children.length == 2,
        "graft_window_hashes(text, w) takes 2 arguments")
      scalaUdfOf(Hashing.windowHashesUdf, children)
    },
    // t27 unigram-LM Viterbi segmentation of a word under a
    // (pieces, scores) table (array<string>)
    "graft_unigram_segment" -> { children =>
      require(children.length == 3,
        "graft_unigram_segment(word, pieces, scores) takes 3 arguments")
      scalaUdfOf(graft.operators.TextOps.unigramSegmentUdf, children)
    },
    // t29 serve variant: out-of-vocab single chars fall back to `unk`
    "graft_unigram_segment_unk" -> { children =>
      require(children.length == 4,
        "graft_unigram_segment_unk(word, pieces, scores, unk) takes 4 arguments")
      scalaUdfOf(graft.operators.TextOps.unigramSegmentUnkUdf, children)
    })

  /** Attach graft to an already-running session (the extensions path
    * only applies when the session is first built): register its SQL
    * functions and route `file://` I/O through the fork-free
    * [[graft.io.LocalFs]]. Every main and the test session go through
    * here. Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    sqlFunctions.foreach { case (name, builder) =>
      org.apache.spark.sql.graftglue.registerFunction(spark, name, builder)
    }
    graft.io.LocalFs.install(spark.sparkContext.hadoopConfiguration)
  }
}
