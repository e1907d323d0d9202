package perfbench

import graft.Q

/** The 17 operator modules whose `defs` make up `SparkEntry.allQueries`,
  * by name; the traced run attributes time to them. */
object Modules {
  val all: Seq[(String, Seq[Q])] = {
    import graft.operators._
    Seq(
      "Relational" -> Relational.defs, "CleanerOps" -> CleanerOps.defs,
      "TextOps" -> TextOps.defs, "DedupOps" -> DedupOps.defs,
      "SimilarityOps" -> SimilarityOps.defs, "WindowingOps" -> WindowingOps.defs,
      "MultimodalOps" -> MultimodalOps.defs, "StatsOps" -> StatsOps.defs,
      "ExtendedOps" -> ExtendedOps.defs, "ChunkingOps" -> ChunkingOps.defs,
      "Sampling" -> Sampling.defs, "ReleaseOps" -> ReleaseOps.defs,
      "GeoOps" -> GeoOps.defs, "ProfileOps" -> ProfileOps.defs,
      "GraphOps" -> GraphOps.defs, "OsmOps" -> OsmOps.defs,
      "FormatOps" -> graft.sources.FormatOps.defs)
  }
  val names: Seq[String] = all.map(_._1)
  val moduleOf: Map[String, String] =
    all.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
}
