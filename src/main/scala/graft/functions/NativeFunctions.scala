package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, BloomFilterAggregate}
import org.apache.spark.sql.graft.SessionOps
import org.apache.spark.sql.types.{DoubleType, StringType}
import graft.osm.HilbertIndexExpr

/** graft's native SQL functions: one entry per name, holding the
  * Catalyst expression it builds and the argument casts it applies.
  * Every route to a kernel reads this table, so a name builds the same
  * tree whichever route reaches it:
  *  - [[inject]] backs the session extension ([[graft.GraftExtensions]]);
  *  - [[register]] is the runtime route ([[graft.Graft.setup]]);
  *  - an entry's `apply` builds the Column the operators use. It does not
  *    go through the session's function registry, so an operator neither
  *    writes temp functions into the caller's session nor picks up a
  *    caller's own function of the same name. */
object NativeFunctions {

  final case class NativeFunction(name: String,
      exprClass: Class[_ <: Expression], build: Seq[Expression] => Expression) {

    def info: ExpressionInfo = new ExpressionInfo(exprClass.getName, name)

    /** `name(args…)` as a Column: the tree the analyzer builds for the
      * registered name, aggregates wrapped as the analyzer wraps them. */
    def apply(args: Column*): Column =
      SessionOps.column(build(args.map(SessionOps.expression)) match {
        case agg: AggregateFunction => agg.toAggregateExpression()
        case e => e
      })
  }

  val hilbertIndex = NativeFunction("hilbert_index", classOf[HilbertIndexExpr],
    es => HilbertIndexExpr(es.map(Cast(_, DoubleType))))
  val md5Prefix28 = NativeFunction("md5_prefix28", classOf[Md5Prefix28Expr],
    es => Md5Prefix28Expr(Cast(es.head, StringType)))

  val vecDot = NativeFunction("vec_dot", classOf[VecDotExpr],
    es => VecDotExpr(es(0), es(1)))
  val vecNorm = NativeFunction("vec_norm", classOf[VecNormExpr],
    es => VecNormExpr(es.head))
  val vecCosine = NativeFunction("vec_cosine", classOf[VecCosineExpr],
    es => VecCosineExpr(es(0), es(1)))
  val vecNearestCode = NativeFunction("vec_nearest_code",
    classOf[VecNearestCodeExpr], es => VecNearestCodeExpr(es(0), es(1), es(2)))
  val vecNearestCell = NativeFunction("vec_nearest_cell",
    classOf[VecNearestCellExpr],
    es => VecNearestCellExpr(es(0), es(1), es(2), es(3)))
  val vecL2normalize = NativeFunction("vec_l2normalize",
    classOf[VecL2NormalizeExpr], es => VecL2NormalizeExpr(es.head))

  val splitWords = NativeFunction("split_words", classOf[SplitWordsExpr],
    es => SplitWordsExpr(es.head))
  val termTfs = NativeFunction("term_tfs", classOf[TermTfsExpr],
    es => TermTfsExpr(es(0), es(1)))
  val wordNgrams = NativeFunction("word_ngrams", classOf[WordNgramsExpr],
    es => WordNgramsExpr(es(0), es(1)))
  val ngramHashes = NativeFunction("ngram_hashes", classOf[NgramHashesExpr],
    es => NgramHashesExpr(es(0), es(1)))
  val mergePair = NativeFunction("merge_pair", classOf[MergePairExpr],
    es => MergePairExpr(es(0), es(1), es(2)))
  val adjacentPairs = NativeFunction("adjacent_pairs",
    classOf[AdjacentPairsExpr], es => AdjacentPairsExpr(es.head))
  val applyBpeTable = NativeFunction("apply_bpe_table",
    classOf[ApplyBpeTableExpr], es => ApplyBpeTableExpr(es(0), es(1), es(2)))
  val charNgrams = NativeFunction("char_ngrams", classOf[CharNgramsExpr],
    es => CharNgramsExpr(es(0), es(1)))
  val charGramHashes = NativeFunction("char_gram_hashes",
    classOf[CharGramHashesExpr], es => CharGramHashesExpr(es(0), es(1), es(2)))
  val wordpiece = NativeFunction("wordpiece", classOf[WordpieceExpr],
    es => WordpieceExpr(es(0), es(1)))
  val wordpieceIds = NativeFunction("wordpiece_ids", classOf[WordpieceIdsExpr],
    es => WordpieceIdsExpr(es(0), es(1)))
  val wordpieceDocIds = NativeFunction("wordpiece_doc_ids",
    classOf[WordpieceDocIdsExpr], es => WordpieceDocIdsExpr(es(0), es(1)))
  val viterbiSegment = NativeFunction("viterbi_segment",
    classOf[ViterbiSegmentExpr], es => ViterbiSegmentExpr(es(0), es(1), es(2)))

  /** Spark's internal bloom-filter expressions, which Spark keeps out of
    * its public registry (they back the optimizer's InjectRuntimeFilter
    * rewrite). `bloom_filter_agg(xxhash64(k), estItems, numBits)`
    * aggregates to the serialized sketch (BINARY);
    * `bloom_might_contain(sketch, xxhash64(k))` probes it. The sketch
    * argument must be foldable (a collected literal) or a scalar
    * subquery — the Catalyst contract of the underlying expression. */
  val bloomFilterAgg = NativeFunction("bloom_filter_agg",
    classOf[BloomFilterAggregate], es => es.length match {
      case 1 => new BloomFilterAggregate(es(0))
      case 2 => new BloomFilterAggregate(es(0), es(1))
      case _ => new BloomFilterAggregate(es(0), es(1), es(2))
    })
  val bloomMightContain = NativeFunction("bloom_might_contain",
    classOf[BloomFilterMightContain], es => BloomFilterMightContain(es(0), es(1)))

  val all: Seq[NativeFunction] = Seq(hilbertIndex, md5Prefix28,
    vecDot, vecNorm, vecCosine, vecNearestCode, vecNearestCell, vecL2normalize,
    splitWords, termTfs, wordNgrams, ngramHashes, mergePair, adjacentPairs,
    applyBpeTable, charNgrams, charGramHashes, wordpiece, wordpieceIds,
    wordpieceDocIds, viterbiSegment, bloomFilterAgg, bloomMightContain)

  /** Adds every function to sessions built with the extension. */
  def inject(ext: SparkSessionExtensions): Unit =
    all.foreach(f => ext.injectFunction((FunctionIdentifier(f.name), f.info, f.build)))

  /** Registers every function the session does not already resolve. A
    * name the session carries (from the extension, or the caller's own
    * function) is left as it is. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.functionExists(id)) reg.registerFunction(id, f.info, f.build)
    }
  }
}
