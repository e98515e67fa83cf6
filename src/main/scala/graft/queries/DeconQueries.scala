package graft
package queries

import graft.operators.{Dedup, TrainingData}
import Shared.docs

/** The `decon_*` queries: benchmark decontamination over `documents`. */
object DeconQueries extends QueryFamily("decon") {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("decon_overlap", (s, d) => TrainingData.decontaminate(docs(s, d)),
      TrainingData.sqlDecontaminate),
    QuerySpec("decon_minhash", (s, d) => Dedup.minhashDecon(docs(s, d)),
      Dedup.sqlMinhashDecon()),
    QuerySpec("decon_bloom", (s, d) => TrainingData.bloomDecon(docs(s, d)),
      TrainingData.sqlBloomDecon),
  )
}
