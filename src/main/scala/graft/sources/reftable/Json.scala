package graft.sources.reftable

import com.fasterxml.jackson.databind.ObjectMapper

/** The one Jackson mapper behind graft's metadata JSON (manifests, stats,
  * catalog entries, offsets). An `ObjectMapper` is thread-safe once
  * configured and costly to build, so callers share this instance and must
  * not reconfigure it; per-call settings go through `mapper.writer(...)` /
  * `mapper.reader(...)`.
  */
private[graft] object Json {
  val mapper: ObjectMapper = new ObjectMapper()
}
