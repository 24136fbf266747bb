package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level scale-discipline guard: the "no driver-side collect in
  * any operator" claim is a contract, not a habit — this spec makes it
  * machine-checked the way PlanHygieneSpec machine-checks plan shapes.
  * A `.collect()` in an operator pulls O(data) to the driver and is the
  * one anti-pattern a plan inspection can miss (it looks like any other
  * action). The single allowed occurrence is documented O(K)
  * index-METADATA probe planning, and the allowlist is asserted both
  * ways so a removed collect retires its exemption. */
class SourceHygieneSpec extends AnyFunSuite {

  /** file → expected number of `.collect()` occurrences in main sources;
    * anything not listed must have zero */
  private val allowed = Map(
    // Similarity.annQueryIndex + Similarity.ivfPqQueryIndex: O(IvfProbes)
    // codebook METADATA collects for static partition pruning; the batch
    // form (annQueryIndexBatch) is collect-free — documented in the
    // scaladocs there
    "Similarity.scala" -> 2,
    // Sinks.manifestJson: O(#shards) per-shard (rows, digest) aggregate
    // rows collected to render the driver-side _MANIFEST.json — manifest
    // METADATA, never row data; shard count is a layout constant
    "Sinks.scala" -> 1,
    // Dedup.readIndexMeta: O(1) index-family constant (the cap the index
    // was BUILT with) read back for append maintenance — pure metadata.
    // Dedup.warnIfOverCap (r22): the whole ~6-row meta/ sidecar in ONE
    // readback (was two readIndexMeta jobs) — same metadata class
    "Dedup.scala" -> 2,
    // TextAnalysis.bpeTrain: ONE argmax row per merge round — the
    // merge-decision metadata every BPE trainer serializes on; corpus
    // token arrays never reach the driver (documented in the scaladoc).
    // TextAnalysis.qualityModelWeighted(frame form): O(D) model-weight
    // rows — model metadata (D is a model constant), the codebook pattern.
    // TextAnalysis.loadBpeArtifact: O(nMerges) merge rows + O(3) meta
    // rows — the shipped tokenizer's decision metadata, same class
    "TextAnalysis.scala" -> 4,
    // CorpusOps.loadPslArtifact: O(catalog) suffix rows + O(2) meta rows
    // — the public-suffix list is ~10k rows, a constant of the internet
    // (model-metadata class, the BPE/codebook pattern); the catalog then
    // rides plans as InSet literals, never as a join side
    "CorpusOps.scala" -> 2,
    // Pipeline.streamGoldenApply: ONE per-batch contract-guard aggregate
    // (≤5 offending keys collected to name them in the failure) — the
    // allowlisted per-batch decision-metadata class, bounded by limit(5)
    "Pipeline.scala" -> 1,
    // IndexMaintenance.compactMvWith: ONE 1-row max(batch_id) aggregate
    // (the fold ceiling recorded in the _compacted_through sidecar);
    // deleteFromGramIndex: ONE 1-row content-hash aggregate (the retry
    // marker key guarding the non-idempotent df-delta append) — both
    // maintenance-time metadata
    "IndexMaintenance.scala" -> 2,
    // tools/: driver-side measurement INSTRUMENTS (sweep mains that
    // print JSON lines), not operators — their collects gather sweep
    // summary rows by design. Counted anyway so an instrument can't
    // quietly grow a data-sized collect.
    "CapSweep.scala" -> 1,
    "LongDocWinnow.scala" -> 2,
    "ScaleTestdata.scala" -> 1,
    "SemanticKScale.scala" -> 1,
    "ResolveScaleTiming.scala" -> 2, // two 1-row aggregates (cross-pair total, entity count)
    "WinnowSweep.scala" -> 3)

  test("no .collect() in main operator/function/source/streaming code outside the allowlist") {
    val base = Paths.get("src/main/scala/graft")
    val rootNames = Seq("operators", "functions", "sources", "streaming", "tools", "")
    // the scan roots are asserted against the LIVE directory listing, so
    // a new source directory cannot silently sit outside the contract
    // (the round-15 gap: tools/ existed but was never scanned)
    val liveDirs = Files.list(base).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(liveDirs === rootNames.filter(_.nonEmpty).toSet,
      s"source directories drifted from the scan roots — update rootNames AND " +
        s"triage any collects in the new directory (live: $liveDirs)")
    val counts = rootNames.map(d => base.resolve(d)).filter(Files.isDirectory(_))
      .flatMap(r => Files.list(r).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        "\\.collect\\(\\)".r.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0)
      .toMap
    val offenders = counts.filter { case (f, n) => allowed.getOrElse(f, 0) != n }
    assert(offenders.isEmpty,
      s"unexpected .collect() counts (file -> found): $offenders; allowlist: $allowed")
    // two-way: a stale allowlist entry (collect removed) must also fail
    val stale = allowed.filter { case (f, n) => counts.getOrElse(f, 0) != n }
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }
}
