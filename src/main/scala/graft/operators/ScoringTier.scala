package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import GraftSimilarity.IvfIndex

/** How an IVF serve scores the candidates in its probed cells — the one
  * choice that separates the serving rungs of the vector-bytes ladder.
  * [[GraftSimilarity.ivfTopKWith]] and [[HybridRetrieval.hybridTopKWith]]
  * take it as their `tier` and dispatch on it once:
  *
  *   - [[ScoringTier.Exact]] — exact cosine over the raw vectors of the
  *     probed cells, one stage.
  *   - [[ScoringTier.Q8]] / [[ScoringTier.Q4]] / [[ScoringTier.B1]] —
  *     integer candidate scoring off a packed scalar code (one byte, one
  *     nibble, one sign bit per component: 8×, 16×, 64× fewer
  *     candidate-scan bytes than the doubles at dim 64).
  *   - [[ScoringTier.Pq]] — ADC scoring off the m-byte product-quantized
  *     code word, against the codebook the tier carries.
  *
  * Every non-exact tier is [[ScoringTier.Compressed]] and serves through
  * ONE two-stage body: stage 1 is the tier's own candidate scoring over
  * its at-rest column, the mergeable `graft_topk` heap cuts
  * k·`rerankFactor` candidates per query, and stage 2 exact-reranks those
  * survivors through their original vectors. `rerankFactor` is the
  * tier's recall knob — with it covering the probed population every
  * tier returns exactly the [[ScoringTier.Exact]] serve (SimilaritySpec
  * pins each rung); measure the trade with
  * [[GraftSimilarity.tierRecall]] / [[GraftPq.pqAutoBudget]].
  *
  * The same tier decides what a store writes at rest:
  * [[IvfObjectStore]] encodes each tier's column through the tier
  * (`q8` always, `q4`/`b1` opt-in at create, `cw` with a codebook), and
  * [[ScoringTier.Compressed.attach]] encodes it onto an in-memory index.
  */
sealed trait ScoringTier extends Product with Serializable

object ScoringTier {

  /** Exact cosine over the probed cells' raw vectors. */
  case object Exact extends ScoringTier

  /** A tier that scores candidates off a compressed at-rest column and
    * exact-reranks the top k·`rerankFactor` of them. */
  sealed abstract class Compressed extends ScoringTier {
    def rerankFactor: Int

    /** The at-rest column stage 1 scans. */
    def column: String

    /** Encode this tier's column onto an assigned frame (n_id, v, …). */
    private[operators] def encode(assigned: DataFrame): DataFrame

    /** The refusal for an index that does not carry [[column]]. */
    private[operators] def missingColumn: String

    /** Stage 1: score every (query, candidate) pair of the probed cells
      * off [[column]], self pairs excluded. `q` is the (q_id, qv)
      * minibatch, `probes` its (q_id, qv, c_id) probe rows, `scan` the
      * (filtered) assigned frame. Returns (q_id, n_id, score): the third
      * column is what the k·`rerankFactor` cut ranks by. */
    private[operators] def score(q: DataFrame, probes: DataFrame,
                                 scan: DataFrame): DataFrame

    /** This tier's serving column attached to an in-memory index — what
      * [[IvfObjectStore]] writes at rest, for parity tests and in-flight
      * serving where no store exists. */
    def attach(index: IvfIndex): IvfIndex =
      IvfIndex(index.centroids, encode(index.assigned))
  }

  /** A scalar-quantized rung: `encodeFn` packs a vector into `column`'s
    * binary code (the query side packs the same way), `cosFn` scores two
    * packed codes. A null code (cell files written without the column)
    * FAILS LOUDLY on the scored candidates rather than silently dropping
    * them from the heap. */
  sealed abstract class Scalar(val column: String, encodeFn: String,
                               cosFn: String) extends Compressed {
    private[operators] def encode(assigned: DataFrame): DataFrame =
      assigned.withColumn(column, expr(s"$encodeFn(v)"))

    private[operators] def missingColumn: String =
      s"ivfTopKWith: index has no $column column — read a store written " +
      s"with the $column layout, or attach it to an in-memory index with " +
      s"ScoringTier.$productPrefix().attach"

    private[operators] def score(q: DataFrame, probes: DataFrame,
                                 scan: DataFrame): DataFrame = {
      val nullCode = s"ivfTopKWith: null $column — cell files written " +
        "without the column; rebuild the store"
      broadcast(probes.withColumn("__qq", expr(s"$encodeFn(qv)")))
        // column pruning keeps the doubles out of this scan entirely
        .join(scan.select(col("n_id"), col("c_id"), col(column)), "c_id")
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
                expr(s"""if(isnull($column),
                        |   cast(assert_true(false, '$nullCode') AS double),
                        |   $cosFn(__qq, $column))""".stripMargin).as("qc"))
    }
  }

  /** One signed byte per component; every [[IvfObjectStore]] has it. */
  final case class Q8(rerankFactor: Int = 4)
      extends Scalar("q8", "graft_q8b", "graft_q8b_cos")

  /** Half a byte per component: drops more true neighbours than q8 at
    * a given budget. Opt-in at write (`IvfObjectStore.create(q4 = true)`). */
  final case class Q4(rerankFactor: Int = 4)
      extends Scalar("q4", "graft_q4b", "graft_q4b_cos")

  /** One sign bit per component, scored by XOR + POPCNT — the cheapest
    * kernel and the coarsest rung. Its score takes 65 values at dim 64,
    * so ties are common and `graft_topk`'s id-ascending tie-break keeps
    * the cut reproducible. Opt-in at write (`create(b1 = true)`). */
  final case class B1(rerankFactor: Int = 4)
      extends Scalar("b1", "graft_b1b", "graft_b1_cos")

  /** Product quantization: candidates are ADC-scored off the m-byte `cw`
    * code word against `cb`. Size `rerankFactor` with
    * [[GraftPq.pqAutoBudget]] — see [[GraftPq.pqTopK]]'s budget warning. */
  final case class Pq(cb: GraftPq.PqCodebook, rerankFactor: Int = 4)
      extends Compressed {
    def column: String = "cw"

    private[operators] def encode(assigned: DataFrame): DataFrame =
      GraftPq.withCw(cb, assigned)

    private[operators] def missingColumn: String =
      "ivfTopKWith: index has no cw column — write the store with " +
      "IvfObjectStore.create(…, pq = Some(cb)), or compact a pre-PQ " +
      "store with its codebook present to migrate in place"

    private[operators] def score(q: DataFrame, probes: DataFrame,
                                 scan: DataFrame): DataFrame = {
      val local = GraftPq.materialize(cb)
      // (q_id, c_id, LUT) — |Q|·nprobe rows, broadcastable at any N
      val probeLut = broadcast(probes.select(col("q_id"), col("c_id"))
        .join(GraftPq.qlutFrame(local, q), "q_id"))
      scan.select(col("n_id"), col("c_id"), col("cw"))
        .join(probeLut, "c_id")
        .filter(col("n_id") =!= col("q_id"))
        .crossJoin(GraftPq.normLutRow(local))
        .select(col("q_id"), col("n_id"),
                GraftPq.adcCosine("cw", ifNull = Some(
                  "ivfTopKWith: null cw — mixed-generation cell files; " +
                  "compact the store (codebook present) to migrate"))
                  .as("ac"))
    }
  }

  /** The scalar rungs in at-rest column order. */
  private[operators] val Scalars: Seq[Scalar] = Seq(Q8(), Q4(), B1())

  /** Encode each of `tiers`' columns that `df` does not carry yet, in
    * order — a rewrite keeps the columns it already has and never
    * re-quantizes them. */
  private[operators] def encodeMissing(df: DataFrame,
                                       tiers: Seq[Compressed]): DataFrame =
    tiers.foldLeft(df)((d, t) => if (d.columns.contains(t.column)) d
                                 else t.encode(d))
}
