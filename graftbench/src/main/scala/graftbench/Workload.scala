package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload. The runner calls, in order: `prepare` (input
  * generation, untimed), `setup` a few times (each on a fresh session and a
  * fresh store root), `warm` once, `reference` (untimed check references),
  * then `pass` in a closed loop until the time is up. */
trait Workload {
  def name: String
  /** Generate and write this seed's inputs. */
  def prepare(spark: SparkSession): Unit
  /** Input table name -> row count, for the run context. */
  def inputRows: Map[String, Long]
  /** Digest of the generated inputs. */
  def inputDigest(spark: SparkSession): String
  /** What a user does once per session before the first result: open
    * the inputs, build the stores. Called once per set-up repetition. */
  def setup(h: Harness, rep: Int): Unit
  /** The first pass after set-up (checked, not recorded). */
  def warm(h: Harness): Unit = pass(h)
  def reference(h: Harness): Unit = ()
  /** One timed pass; returns the user rows it processed. */
  def pass(h: Harness): Long
  /** Digest of the outputs of the last pass (same seed, same digest). */
  def outputDigest: String
  /** The graft functions this workload leans on, for the functions layer:
    * (function, input frame, SQL expression applying it to one row). */
  def kernels(spark: SparkSession): Seq[(String, DataFrame, String)] = Nil
  /** Store directories whose files the stores layer counts. */
  def storeDirs: Seq[String] = Nil
  /** Workload-specific end-to-end figures (write_amp, recall_at_10, …). */
  def extras(h: Harness): Map[String, Double] = Map.empty
  /** Versions readable in the workload's stores, at pass end. */
  def storeVersions(spark: SparkSession): Long = 0L
}

object Workload {
  /** The vector kernels (exact cosine, q4 cosine, PQ ADC) over ten copies
    * of the vectors in `vecs`, scored against `query`. */
  def vectorKernels(vecs: DataFrame, query: Array[Double]): Seq[(String, DataFrame, String)] = {
    import org.apache.spark.sql.functions._
    val lut = typedLit(Seq.tabulate(8 * 16)(i => (i * 7 % 17) * 0.25))
    val in = vecs.select(col("v"), explode(sequence(lit(1), lit(10))).as("r"))
      .select(col("v"), typedLit(query.toSeq).as("qv"), lut.as("lut"))
      .select(col("v"), col("qv"), col("lut"),
              expr("graft_q4b(v)").as("v4"), expr("graft_q4b(qv)").as("q4"),
              expr("transform(sequence(0, 7), j -> cast(pmod(hash(v[j]), 16) AS int))").as("codes"))
    Seq(("graft_cosine", in, "graft_cosine(v, qv)"),
        ("graft_q4b_cos", in, "graft_q4b_cos(v4, q4)"),
        ("graft_pq_adc", in, "graft_pq_adc(codes, lut)"))
  }
}
