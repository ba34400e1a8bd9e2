package graft.plans

import graft.functions.LongArrayDot
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Optimizer rule: fuse the composable HOF dot product
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)`
  * into the native codegen [[graft.functions.LongArrayDot]] loop.
  *
  * The HOF chain allocates an intermediate array and runs two
  * interpreted lambdas per row (measured 15.8 s vs 3.6 s over 20k
  * vectors — `Similarity.lshBucket` scaladoc); after this rule,
  * user-written HOF dot products get the fused loop without knowing
  * the `dotq` function exists.
  *
  * Guards (the fusion only fires when):
  *  - both sides are `array<bigint>` with non-nullable elements (a
  *    null element makes the HOF yield null, while dotq counts it
  *    as 0);
  *  - both sides are deterministic — the rewrite duplicates them into
  *    a size-equality check (preserving zip_with's length-mismatch ⇒
  *    null behavior), which would otherwise re-draw a nondeterministic
  *    input.
  *
  * Known, accepted deviation: on Long overflow under ANSI mode the
  * HOF throws ARITHMETIC_OVERFLOW while the fused loop wraps. The
  * intended domain is 1e-6 fixed-point embeddings (|component| ≤ ~1e6,
  * dim ≤ 64 ⇒ |dot| ≤ ~6.4e13, four-thousand-fold below Long.Max), so
  * wrapping is unreachable by construction; noted here rather than
  * silently claimed away.
  */
object DotFusionRule extends Rule[LogicalPlan] {

  private def isNonNullLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, false) => true
    case _                          => false
  }

  /** body vars are exactly the lambda's two declared arguments. */
  private def usesOwnArgs(vars: Seq[NamedLambdaVariable], args: Seq[NamedExpression]): Boolean = {
    val argIds = args.collect { case v: NamedLambdaVariable => v.exprId }
    argIds.length == 2 && vars.map(_.exprId).toSet == argIds.toSet
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(Multiply(mx: NamedLambdaVariable, my: NamedLambdaVariable, _), mArgs, _)),
          Literal(0L, LongType),
          LambdaFunction(Add(ax: NamedLambdaVariable, ay: NamedLambdaVariable, _), aArgs, _),
          LambdaFunction(fin: NamedLambdaVariable, finArgs, _))
        if isNonNullLongArray(a) && isNonNullLongArray(b) &&
          a.deterministic && b.deterministic &&
          usesOwnArgs(Seq(mx, my), mArgs) && usesOwnArgs(Seq(ax, ay), aArgs) &&
          finArgs.collect { case v: NamedLambdaVariable => v.exprId } == Seq(fin.exprId) =>
      If(
        EqualTo(Size(a, legacySizeOfNull = false), Size(b, legacySizeOfNull = false)),
        LongArrayDot(a, b),
        Literal(null, LongType))
  }
}

/** Sizes Spark's JVM-wide generated-code cache for the platform's
  * working set.
  *
  * `CodeGenerator` keeps every compiled class in one cache per JVM,
  * keyed by the source and the class loader it compiled under. Its size
  * is read once, from `SQLConf.get.codegenCacheMaxEntries`, when the
  * `CodeGenerator` object initializes (spark-catalyst 4.1.2), and
  * Spark's default is 100 entries. That is smaller than one
  * reference-DAG pass, so each pass evicts the classes the next pass
  * needs: a traced warm pass compiled 165 times (122 distinct sources),
  * and 137 of those compiles repeated the previous pass's. With
  * [[Entries]] the same pass compiles 28 times.
  *
  * [[install]] initializes `CodeGenerator` under a conf that holds
  * [[Entries]]. It does nothing in two cases:
  *  - the SparkConf sets `spark.sql.codegen.cache.maxEntries`: the
  *    explicit value wins, read when `CodeGenerator` initializes;
  *  - `CodeGenerator` already initialized in this JVM (an earlier
  *    session, or code generated before the first graft session): its
  *    cache keeps the size it was built with.
  */
object CodegenCache {
  /** Cache entries. Working sets, as entries compiled by one JVM while
    * none was evicted: the reference DAG 161 in its first pass and
    * about 28 more per later pass (the new watermark and the grown
    * bronze change a few plans), the curation chain 55, and three
    * `graft.Bench` sweeps over all 208 registered queries at sf0.01
    * 3,969. 4096 holds each of them. Small generated classes measured
    * about 6 KB of metaspace each. */
  val Entries = 4096

  /** The conf to initialize `CodeGenerator` under, or None when
    * `sparkConf` sets the cache size itself. */
  def sizingConf(sparkConf: SparkConf): Option[SQLConf] =
    if (sparkConf.contains(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key)) None
    else {
      val conf = new SQLConf
      conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, Entries)
      Some(conf)
    }

  /** Reads the SparkConf from `SparkEnv`, which the session's
    * SparkContext has already set; `SparkContext.getOrCreate()` could
    * create a context instead. */
  def install(): Unit =
    Option(SparkEnv.get).flatMap(env => sizingConf(env.conf)).foreach { conf =>
      // any member access runs the object's initializer, which sizes the cache
      SQLConf.withExistingConf(conf)(CodeGenerator.compileTime): Unit
    }
}

/** Session extensions: `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (or `.config(...)` on the builder). Every session gets:
  *  - the native codegen functions `dotq`, `jaccardq`, `winnowq`,
  *    `nfcq`, `gramsq`, `minhashbandsq`, `langidq`, `qscoreq`,
  *    `nearest_cell_cos` and `nearest_cell_l2`;
  *  - [[DotFusionRule]], which rewrites HOF dot products into `dotq`;
  *  - [[CodegenCache]], which sizes the JVM's generated-code cache
  *    before the first query compiles anything;
  *  - [[graft.io.LocalFileSystems]], bound as the `file:` scheme for
  *    `FileSystem` and `FileContext`, which sets file permissions and
  *    tells symlinks in-process instead of forking `chmod` per file and
  *    directory and `readlink` per path a `FileContext` rename stats,
  *    unless the SparkConf binds `spark.hadoop.fs.file.impl` or
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl` itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    CodegenCache.install()
    graft.io.LocalFileSystems.install()
    ext.injectOptimizerRule(_ => DotFusionRule)
    ext.injectFunction(LongArrayDot.descriptor)
    ext.injectFunction(graft.functions.SortedArrayJaccard.descriptor)
    ext.injectFunction(graft.functions.WinnowFingerprint.descriptor)
    ext.injectFunction(graft.functions.NfcNormalize.descriptor)
    ext.injectFunction(graft.functions.ContentGrams.descriptor)
    ext.injectFunction(graft.functions.MinHashBands.descriptor)
    graft.functions.TextScores.descriptors.foreach(ext.injectFunction)
    graft.functions.NearestCell.descriptors.foreach(ext.injectFunction)
  }
}
