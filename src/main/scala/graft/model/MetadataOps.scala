package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level helpers over the open metadata map
  * (`MAP<STRING, ARRAY<STRING>>`).
  *
  * Re-expresses the operations of the reference's `Metadata` class
  * (`core/.../Metadata.java`): `getFirstValue` (91-116), `getValues`,
  * `setValue`/`addValue` (132-178) and prefix scans `keySet(prefix)`
  * (215-219) — but as pure Catalyst column expressions, never UDFs.
  * Honest cost note: the higher-order map function `map_filter` is
  * CodegenFallback — interpreted per row, though still null-safe,
  * prunable and far cheaper than opaque UDFs. That is fine here
  * because these run on per-STATUS-ROW paths (a handful of keys per
  * map); the per-outlink hot path — tens of evaluations per parsed
  * page — uses the typed [[MetadataTransfer]] on plain Scala maps
  * inside the parse stage instead.
  */
object MetadataOps {

  /** First value for a key — `Metadata.getFirstValue` (`Metadata.java:91`).
    * `get` (0-based) tolerates empty value arrays under ANSI mode. */
  def mdFirst(md: Column, key: String): Column =
    get(element_at(md, key), lit(0))

  /** All values for a key (null-safe empty). */
  def mdValues(md: Column, key: String): Column =
    coalesce(element_at(md, key), array())

  /** Set (replace) a single-valued key — `Metadata.setValue` (132). */
  def mdSet(md: Column, key: String, value: Column): Column =
    map_concat(
      map_filter(coalesce(md, map()), (k, _) => k =!= key),
      map(lit(key), array(value)))

  /** Append a value to a key — `Metadata.addValue` (150). */
  def mdAdd(md: Column, key: String, value: Column): Column = {
    val base = coalesce(md, map())
    map_concat(
      map_filter(base, (k, _) => k =!= key),
      map(lit(key), concat(coalesce(element_at(base, key), array()), array(value))))
  }

  /** Sub-map of keys starting with prefix — `Metadata.keySet(prefix)`
    * (`Metadata.java:215-219`). */
  def mdPrefix(md: Column, prefix: String): Column =
    map_filter(coalesce(md, map()), (k, _) => k.startsWith(prefix))
}
