package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{map_entries, map_from_entries}

/** Tag-map grouping-key codec.
 *
 *  Map-typed grouping keys are illegal and map/string-typed AGG BUFFERS
 *  force SortAggregate, so every aggregate that must carry the tag map
 *  re-keys it through an orderable encoding and decodes after the
 *  aggregate: `map_entries` → `array<struct<key,value>>`. Arrays of
 *  structs are legal grouping keys and hash-aggregate cleanly (the same
 *  posture as the ANN path's vector grouping key,
 *  Similarity.assignToCells); encode/decode are native array ops — no
 *  per-row Jackson. Measured against the former `to_json`/`from_json`
 *  string round-trip (round 15, interleaved same-JVM A/B at sf0.1): see
 *  OPTIMIZATION_r15.md — the JSON round-trip was a visible slice of
 *  every downsample/seriesDim stage's CPU.
 *
 *  The encoding groups correctly because tag maps are constructed with a
 *  deterministic entry order (TsdbViews.pointsFromEvents literal order;
 *  parquet map round-trips preserve order), and two maps are equal iff
 *  their ordered entry lists are. */
object TagsJson {

  /** Orderable grouping-key encoding of a tags map. */
  def key(tags: Column): Column = map_entries(tags)

  /** Inverse of [[key]] — the tags map back. */
  def decode(k: Column): Column = map_from_entries(k)
}
