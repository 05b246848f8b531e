package graft.core

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Lake-tiering half of a maintenance tick — the library analog of the
  * reference's datalake tiering service: per-table `table.datalake.*`
  * options (ConfigOptions.java:1831-1887) drive a periodic task
  * (coordinator LakeTableTieringManager.java:110) that keeps the lake
  * copy within a freshness target and optionally expires lake history.
  *
  * Policy properties (ALTER TABLE ... SET, [[Catalog.updateProperties]]):
  *
  *   - `table.datalake.enabled`: gate; the tick skips the table unless
  *     exactly "true" (reference default false)
  *   - `table.datalake.dir`: the lake export directory — required
  *     when enabled (the reference resolves this from its lake catalog;
  *     this engine IS the lake catalog for its own exports, so the
  *     directory is explicit)
  *   - `table.datalake.format`: 'iceberg' (default), 'delta',
  *     'paimon' or 'hudi' — the reference's TABLE_DATALAKE_FORMAT
  *     (ConfigOptions.java:1854)
  *   - `table.datalake.freshness`: max lake lag, '3m' / '45s' / millis
  *     (reference default 3 minutes) — a tick younger than this is a
  *     no-op, so scheduling ticks faster than the target costs nothing
  *   - `table.datalake.auto-expire-snapshot`: expire unreachable lake
  *     history after each tier (reference option of the same name,
  *     default false)
  *   - `table.datalake.snapshot.keep-last`: snapshots retained by the
  *     auto-expiry (default 10)
  *
  * The tick composes the two primitives that already exist — incremental
  * [[GraftTable.tierSnapshot]] (O(changed data)) and the format's
  * [[LakeFormatOps.expireHistory]] (O(metadata + one walk)) — so a
  * freshness-scheduled tiering loop no longer grows the lake
  * monotonically: history beyond keep-last is reclaimed in the same tick
  * that produced it.
  */
object LakeMaintenance {

  private val Prefix = "table.datalake."

  final case class LakePolicy(dir: String, format: String,
      freshnessMs: Long, autoExpire: Boolean, keepLast: Int)

  /** Policy from table properties; None unless enabled=true (the tick
    * then skips the table, like the reference's tiering service).
    */
  def policyOf(props: Map[String, String]): Option[LakePolicy] =
    if (!props.get(Prefix + "enabled").exists(_.equalsIgnoreCase("true"))) None
    else {
      val dir = props.getOrElse(Prefix + "dir",
        throw new IllegalArgumentException(
          s"${Prefix}enabled is true but ${Prefix}dir is not set — the " +
            "export directory is required (ALTER TABLE ... SET " +
            s"('${Prefix}dir'='...'))"))
      val keepLast = props.get(Prefix + "snapshot.keep-last")
        .map(_.trim.toInt).getOrElse(10)
      require(keepLast >= 1,
        s"${Prefix}snapshot.keep-last must be >= 1, got $keepLast")
      val format = LakeFormatOps.of(
        props.getOrElse(Prefix + "format", "iceberg")).name
      val autoExpire = props.get(Prefix + "auto-expire-snapshot")
        .exists(_.equalsIgnoreCase("true"))
      Some(LakePolicy(dir, format,
        Durations.parseMillis(props.getOrElse(Prefix + "freshness", "3m")),
        autoExpire, keepLast))
    }

  /** One lake tick for `t`: None when datalake tiering is disabled;
    * otherwise a summary of the action taken. Within the freshness
    * window nothing is read or written beyond one manifest stat; past it
    * the incremental tier runs (itself a no-op returning "already
    * current" when offsets have not moved), then the optional history
    * expiry.
    */
  def maintainLake(t: GraftTable, nowMillis: Long): Option[String] =
    policyOf(t.desc.properties).map { p =>
      exportedAtMillis(p.dir) match {
        case Some(at) if nowMillis - at < p.freshnessMs =>
          s"lake fresh: tiered ${nowMillis - at} ms ago " +
            s"(freshness target ${p.freshnessMs} ms)"
        case _ =>
          val tiered = t.tierSnapshot(p.dir, p.format)
          if (tiered.startsWith("already current")) {
            // idle table: re-arm the freshness gate (lake verified
            // current NOW) and skip the expiry walk — otherwise every
            // tick past the window would pay a full tier-path read plus
            // a lake directory walk forever. Under the format's lake
            // lock: the manifest rewrite must not interleave with a
            // concurrent tier's manifest update
            LakeFormatOps.of(p.format).withLock(p.dir)(
              touchExportedAt(p.dir, nowMillis))
            s"$tiered (freshness gate re-armed)"
          } else if (p.autoExpire) {
            val n = LakeFormatOps.of(p.format)
              .expireHistory(t.sparkSession, p.dir, p.keepLast).size
            s"$tiered; expired $n unreachable file(s), keeping last " +
              s"${p.keepLast} snapshot(s)"
          } else tiered
      }
    }

  /** Last tier time from `_export_manifest.json` (one metadata read);
    * None on a fresh directory — the tick then runs the initial export.
    */
  private[graft] def exportedAtMillis(dir: String): Option[Long] =
    WarehouseIO.readStringIfExists(s"$dir/_export_manifest.json").map { s =>
      JsonMethods.parse(s).asInstanceOf[JObject].obj.toMap
        .get("exportedAtMillis") match {
        case Some(JInt(n)) => n.toLong
        case _ => 0L
      }
    }

  /** Rewrite ONLY `exportedAtMillis` in the export manifest — "lake
    * verified current at `now`" after a no-op tick. Offsets, files and
    * every roll-forward input stay byte-identical.
    */
  private def touchExportedAt(dir: String, now: Long): Unit = {
    val emPath = s"$dir/_export_manifest.json"
    WarehouseIO.readStringIfExists(emPath).foreach { s =>
      val patched = JsonMethods.parse(s).asInstanceOf[JObject].obj.map {
        case ("exportedAtMillis", _) =>
          "exportedAtMillis" -> (JInt(now): JValue)
        case other => other
      }
      CatalogJson.atomicWrite(emPath,
        JsonMethods.pretty(JsonMethods.render(JObject(patched))))
    }
  }
}
