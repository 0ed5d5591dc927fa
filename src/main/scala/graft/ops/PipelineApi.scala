package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/**
 * Fluent surface for the training-data pipeline operators — the same
 * pandas-flavor chaining style `graft.ops.implicits` gives the cast
 * operators (the reference registers its methods on DataFrame via
 * pandas-flavor; here an implicit value class plays that role with zero
 * wrapper allocation). Column-name defaults follow the `documents` table
 * convention (`doc_id`, `text`); every method delegates to the tested
 * operator object.
 *
 * {{{
 *   import graft.ops.pipeline.implicits._
 *   docs.normalizeText()
 *       .qualityScore()
 *       .lineDedup(maxDocFreq = 1000)
 *       .nearDedup()
 *       .hashSplit(nSplits = 10)
 * }}}
 */
object pipeline {

  object implicits {

    implicit class PipelineDataFrameOps(val df: DataFrame) extends AnyVal {

      // --- dedup ---------------------------------------------------------

      def exactDedup(idCol: String = "doc_id", textCol: String = "text"): DataFrame =
        DedupOps.exactDedup(df, idCol, textCol)

      def nearDedup(idCol: String = "doc_id", textCol: String = "text",
                    numHashes: Int = 64, bands: Int = 16,
                    shingleSize: Int = 3, threshold: Double = 0.7): DataFrame =
        DedupOps.nearDedup(df, idCol, textCol, numHashes, bands, shingleSize, threshold)

      def nearDedupConnected(idCol: String = "doc_id", textCol: String = "text",
                             threshold: Double = 0.7): DataFrame =
        DedupOps.nearDedupConnected(df, idCol, textCol, threshold = threshold)

      def lineDedup(maxDocFreq: Int, idCol: String = "doc_id",
                    textCol: String = "text", delimiter: String = "\n",
                    exactVerify: Boolean = false): DataFrame =
        DedupOps.lineDedup(df, idCol, textCol, maxDocFreq, delimiter,
          exactVerify = exactVerify)

      def exactDedupAgainst(reference: DataFrame, textCol: String = "text",
                            refTextCol: String = "text"): DataFrame =
        DedupOps.exactDedupAgainst(df, textCol, reference, refTextCol)

      def nearDedupAgainst(reference: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text",
                           refTextCol: String = "text",
                           numHashes: Int = 64, bands: Int = 16,
                           shingleSize: Int = 3,
                           threshold: Double = 0.7): DataFrame =
        DedupOps.nearDedupAgainst(df, idCol, textCol, reference, refTextCol,
          numHashes, bands, shingleSize, threshold)

      def nearDedupAgainstIndex(index: String, idCol: String = "doc_id",
                                textCol: String = "text",
                                threshold: Double = 0.7): DataFrame =
        DedupOps.nearDedupAgainstIndex(df, idCol, textCol, index, threshold)

      def decontaminate(probes: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", probeTextCol: String = "text",
                        shingleSize: Int = 13, bloom: Boolean = false): DataFrame = {
        val flagged =
          if (bloom) DedupOps.contaminatedIdsBloom(df, idCol, textCol,
            probes, probeTextCol, shingleSize)
          else DedupOps.contaminatedIds(df, idCol, textCol,
            probes, probeTextCol, shingleSize)
        df.join(flagged, Seq(idCol), "left_anti")
      }

      // --- text analysis -------------------------------------------------

      def normalizeText(textCol: String = "text",
                        out: String = "text_norm"): DataFrame =
        df.withColumn(out, TextOps.normalizeText(col(textCol)))

      def langId(textCol: String = "text"): DataFrame =
        TextOps.langId(df, textCol)

      def qualityScore(textCol: String = "text"): DataFrame =
        TextOps.qualityScore(df, textCol)

      def repetitionSignals(textCol: String = "text"): DataFrame =
        TextOps.repetitionSignals(df, textCol)

      def redactPii(textCol: String = "text",
                    out: String = "text_redacted"): DataFrame =
        df.withColumn(out, TextOps.redactPii(col(textCol)))

      def fingerprint(textCol: String = "text",
                      out: String = "fingerprint"): DataFrame =
        df.withColumn(out, TextOps.fingerprint(col(textCol)))

      def tokenCount(textCol: String = "text",
                     out: String = "n_tokens"): DataFrame =
        df.withColumn(out, TextOps.tokenCount(col(textCol)))

      def hashingTfIdf(dim: Int, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
        TextOps.hashingTfIdf(df, idCol, textCol, dim)

      def scoreLinear(weights: Array[Double], bias: Double,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
        TextOps.scoreLinear(df, idCol, textCol, weights, bias)

      // --- sampling / packing --------------------------------------------

      def hashSplit(nSplits: Int, keyCol: String = "doc_id",
                    salt: String = "graft"): DataFrame =
        SampleOps.hashSplit(df, keyCol, nSplits, salt)

      def sampleByHash(rate: Double, keyCol: String = "doc_id",
                       salt: String = "graft"): DataFrame =
        SampleOps.sampleByHash(df, keyCol, rate, salt)

      def stratifiedSampleByHash(stratumCol: String, rates: Map[String, Double],
                                 keyCol: String = "doc_id",
                                 defaultRate: Double = 1.0,
                                 salt: String = "graft"): DataFrame =
        SampleOps.stratifiedSampleByHash(df, keyCol, stratumCol, rates,
          defaultRate, salt)

      def resampleToMixture(sourceCol: String, weights: Map[String, Double],
                            totalRows: Long, keyCol: String = "doc_id",
                            salt: String = "graft"): DataFrame =
        SampleOps.resampleToMixture(df, keyCol, sourceCol, weights, totalRows, salt)

      def resampleToMixtureTokens(sourceCol: String, tokenCountCol: String,
                                  weights: Map[String, Double],
                                  totalTokens: Long, keyCol: String = "doc_id",
                                  salt: String = "graft"): DataFrame =
        SampleOps.resampleToMixtureTokens(df, keyCol, sourceCol, tokenCountCol,
          weights, totalTokens, salt)

      def weightedSampleByHash(weightCol: String, keyCol: String = "doc_id",
                               salt: String = "graft"): DataFrame =
        SampleOps.weightedSampleByHash(df, keyCol, weightCol, salt)

      def assignShards(nShards: Int, keyCol: String = "doc_id",
                       salt: String = "graft-shard"): DataFrame =
        SampleOps.assignShards(df, keyCol, nShards, salt)

      def writeShards(outDir: String, nShards: Int,
                      keyCol: String = "doc_id",
                      tokenCountCol: Option[String] = None,
                      salt: String = "graft-shard"): DataFrame =
        SampleOps.writeShards(df, outDir, keyCol, nShards, tokenCountCol, salt)

      def packSequences(budget: Long, splitCol: String = "split",
                        orderCol: String = "doc_id",
                        tokenCountCol: String = "n_tokens"): DataFrame =
        SampleOps.packSequences(df, splitCol, orderCol, tokenCountCol, budget)

      def deterministicShuffle(keyCol: String = "doc_id",
                               salt: String = "graft"): DataFrame =
        SampleOps.deterministicShuffle(df, keyCol, salt)

      def capPerGroup(groupCol: String, n: Int, keyCol: String = "doc_id",
                      salt: String = "graft"): DataFrame =
        SampleOps.capPerGroup(df, groupCol, keyCol, n, salt)

      def asofJoin(right: DataFrame, keyCol: String, tsCol: String,
                   rightCols: Seq[String], suffix: String = "_asof"): DataFrame =
        JoinOps.asofJoin(df, right, keyCol, tsCol, rightCols, suffix)

      // --- corpus shaping ------------------------------------------------

      def chunkDocuments(maxTokens: Int, overlap: Int = 0,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         keep: Seq[String] = Nil): DataFrame =
        TextOps.chunkDocuments(df, idCol, textCol, maxTokens, overlap, keep)

      def vocabulary(k: Int, idCol: String = "doc_id",
                     textCol: String = "text",
                     exactDocFreq: Boolean = true): DataFrame =
        TextOps.vocabulary(df, idCol, textCol, k, exactDocFreq)

      def groupStats(groupCol: String, valueCol: String,
                     percentiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
                     approx: Boolean = false, accuracy: Int = 10000): DataFrame =
        TextOps.groupStats(df, groupCol, valueCol, percentiles, approx, accuracy)

      def distinctTokens(groupCol: String, textCol: String = "text",
                         approx: Boolean = false): DataFrame =
        TextOps.distinctTokens(df, groupCol, textCol, approx)

      def compressionRatio(textCol: String = "text",
                           out: String = "compression_ratio"): DataFrame =
        df.withColumn(out, TextOps.compressionRatio(col(textCol)))

      // --- event analytics -----------------------------------------------

      def sessionize(gapSeconds: Long, userCol: String = "user_id",
                     tsCol: String = "ts", idCol: String = "event_id"): DataFrame =
        EventOps.sessionize(df, userCol, tsCol, idCol, gapSeconds)

      def sessionStats(gapSeconds: Long, userCol: String = "user_id",
                       tsCol: String = "ts",
                       aggs: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
        EventOps.sessionStats(df, userCol, tsCol, gapSeconds, aggs)

      def funnel(steps: Seq[(String, org.apache.spark.sql.Column)],
                 userCol: String = "user_id", tsCol: String = "ts"): DataFrame =
        EventOps.funnel(df, userCol, tsCol, steps)

      def retention(cohortWidthSeconds: Long, horizonPeriods: Int,
                    userCol: String = "user_id", tsCol: String = "ts"): DataFrame =
        EventOps.retention(df, userCol, tsCol, cohortWidthSeconds, horizonPeriods)

      // --- wave-4: skew joins, sketches, graph, normalization -------------

      def saltedJoin(dim: DataFrame, keyCol: String,
                     hotKeys: Map[String, Int],
                     rowCol: String = "doc_id"): DataFrame =
        JoinOps.saltedJoin(df, dim, keyCol, rowCol, hotKeys)

      def intervalJoin(intervals: DataFrame, pointCol: String,
                       loCol: String, hiCol: String,
                       bucketWidth: Long): DataFrame =
        JoinOps.intervalJoin(df, intervals, pointCol, loCol, hiCol, bucketWidth)

      def keySkewProfile(keyCol: String, k: Int = 20,
                         nPartitions: Int = 200): DataFrame =
        StatsOps.keySkewProfile(df, keyCol, k, nPartitions)

      def cmsSketch(keyCol: String, depth: Int, width: Int,
                    salt: String = "graft-cms"): DataFrame =
        SketchOps.cmsSketch(df, keyCol, depth, width, salt)

      def cmsEstimate(sketch: DataFrame, keyCol: String, depth: Int,
                      width: Int, salt: String = "graft-cms"): DataFrame =
        SketchOps.cmsEstimate(sketch, df, keyCol, depth, width, salt)

      def pageRank(srcCol: String, dstCol: String, iters: Int,
                   dampingPpm: Long = 850000L): DataFrame =
        GraphOps.pageRank(df, srcCol, dstCol, iters, dampingPpm)

      def standardizeEmbeddings(idCol: String = "vec_id",
                                byCol: String = "label",
                                vecCol: String = "embedding",
                                decimals: Int = 6): DataFrame =
        SimOps.standardizeEmbeddings(df, idCol, byCol, vecCol, decimals)

      def weightedTopKPerGroup(groupCol: String, weightCol: String, k: Int,
                               keyCol: String = "doc_id",
                               salt: String = "graft-wtopk"): DataFrame =
        SampleOps.weightedTopKPerGroup(df, groupCol, keyCol, weightCol, k, salt)

      def joinKeyOverlap(right: DataFrame, leftKey: String,
                         rightKey: String): DataFrame =
        StatsOps.joinKeyOverlap(df, right, leftKey, rightKey)

      def winsorize(groupCol: String, valueCol: String,
                    loP: Double = 0.01, hiP: Double = 0.99): DataFrame =
        StatsOps.winsorize(df, groupCol, valueCol, loP, hiP)

      def scriptSignals(textCol: String = "text"): DataFrame =
        TextOps.scriptSignals(df, textCol)

      def stripMarkup(textCol: String = "text",
                      out: String = "clean_text"): DataFrame =
        df.withColumn(out, TextOps.stripMarkup(col(textCol)))

      def linkDensity(textCol: String = "text",
                      out: String = "link_density"): DataFrame =
        df.withColumn(out, TextOps.linkDensity(col(textCol)))

      // --- wave 5 --------------------------------------------------------

      def profileColumns(columns: Seq[String] = Nil): DataFrame =
        StatsOps.profileColumns(df, columns)

      def canonicalizeUrls(urlCol: String = "url",
                           out: String = "canonical_url"): DataFrame =
        df.withColumn(out, TextOps.canonicalizeUrl(col(urlCol)))

      def clusterSizeHistogram(canonicalCol: String = "canonical_id"): DataFrame =
        DedupOps.clusterSizeHistogram(df, canonicalCol)

      def contaminationReport(probes: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text",
                              probeTextCol: String = "text",
                              shingleSize: Int = 13): DataFrame =
        DedupOps.contaminationReport(df, idCol, textCol, probes,
          probeTextCol, shingleSize)

      def ewma(valueCol: String, alpha: Double = 0.5,
               keyCol: String = "user_id", tsCol: String = "ts",
               tieCol: String = "event_id", out: String = "ewma"): DataFrame =
        EventOps.ewma(df, keyCol, tsCol, tieCol, valueCol, alpha, out)

      def heavyHitters(keyCol: String, k: Int): DataFrame =
        SketchOps.heavyHitters(df, keyCol, k)

      def kmeansAssignInt(k: Int, iters: Int, idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          scale: Int = 1000): DataFrame =
        SimOps.kmeansAssignInt(df, idCol, vecCol, k, iters, scale)

      def marginMutualMatches(right: DataFrame, idCol: String = "vec_id",
                              vecCol: String = "embedding", k: Int = 4,
                              minMarginMicro: Long = 1000000L): DataFrame =
        SimOps.marginMutualMatches(df, right, idCol, vecCol, k, minMarginMicro)

      // --- wave 6 --------------------------------------------------------

      def distinctiveTerms(groupCol: String = "source",
                           textCol: String = "text", k: Int = 10): DataFrame =
        TextOps.distinctiveTerms(df, groupCol, textCol, k)

      def tokenDrift(snapshotB: DataFrame, textCol: String = "text",
                     k: Int = 20): DataFrame =
        TextOps.tokenDrift(df, snapshotB, textCol, k)

      def embeddingOutliers(idCol: String = "vec_id",
                            labelCol: String = "label",
                            vecCol: String = "embedding",
                            hiP: Double = 0.95): DataFrame =
        SimOps.embeddingOutliers(df, idCol, labelCol, vecCol, hiP)

      def hoppingStats(widthSeconds: Long, hopSeconds: Long,
                       tsCol: String = "ts", typeCol: String = "event_type",
                       valueCol: String = "value"): DataFrame =
        EventOps.hoppingStats(df, tsCol, typeCol, valueCol,
          widthSeconds, hopSeconds)

      // --- wave 7 --------------------------------------------------------

      def setSimilarityJoin(right: DataFrame, setCol: String,
                            thresholdMilli: Int,
                            leftId: String = "doc_id",
                            rightId: String = "doc_id"): DataFrame =
        DedupOps.setSimilarityJoin(df, leftId, right, rightId, setCol,
          thresholdMilli)

      def joinCardinality(right: DataFrame, leftKey: String,
                          rightKey: String): DataFrame =
        StatsOps.joinCardinality(df, right, leftKey, rightKey)

      def sessionPaths(gapSeconds: Long, n: Int = 3, k: Int = 20,
                       userCol: String = "user_id", tsCol: String = "ts",
                       tieCol: String = "event_id",
                       typeCol: String = "event_type"): DataFrame =
        EventOps.sessionPaths(df, userCol, tsCol, tieCol, typeCol,
          gapSeconds, n, k)

      def profileSegment(columns: Seq[String] = Nil): DataFrame =
        StatsOps.profileSegment(df, columns)

      def mergeProfileSegments(columns: Seq[String]): DataFrame =
        StatsOps.mergeProfileSegments(df, columns)

      def phraseSearch(phrase: Seq[String], idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
        SearchOps.phraseSearch(df, idCol, textCol, phrase)

      def vocabCoverage(vocab: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        vocabTokenCol: String = "token"): DataFrame =
        TextOps.vocabCoverage(df, idCol, textCol, vocab, vocabTokenCol)

      // --- wave 8 (round 10) ---------------------------------------------

      def temperatureSample(groupCol: String, alpha: Double,
                            targetRows: Long, keyCol: String = "doc_id",
                            salt: String = "graft"): DataFrame =
        SampleOps.temperatureSampleByHash(df, keyCol, groupCol, alpha,
          targetRows, salt)

      def corpusContainment(other: DataFrame, textCol: String = "text",
                            otherTextCol: String = "text",
                            shingleSize: Int = 3): DataFrame =
        DedupOps.corpusContainment(df, textCol, other, otherTextCol,
          shingleSize)

      def domainStats(urlCol: String = "url",
                      textCol: String = "text"): DataFrame =
        TextOps.domainStats(df, urlCol, textCol)

      def cdcChunks(idCol: String = "doc_id", textCol: String = "text",
                    minLen: Int = 16, maskBits: Int = 4, maxLen: Int = 64,
                    windowLen: Int = 16): DataFrame =
        TextOps.cdcChunks(df, idCol, textCol, minLen, maskBits, maxLen,
          windowLen)

      def nearDupMatchesAgainstIndex(name: String, idCol: String = "doc_id",
                                     textCol: String = "text",
                                     threshold: Double = 0.7,
                                     maxRefBucket: Int = 0): DataFrame =
        DedupOps.nearDupMatchesAgainstIndex(df, idCol, textCol, name,
          threshold, maxRefBucket)

      def cdcDeltaReport(newer: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", minLen: Int = 16,
                         maskBits: Int = 4, maxLen: Int = 64,
                         windowLen: Int = 16): DataFrame =
        TextOps.cdcDeltaReport(df, newer, idCol, textCol, minLen, maskBits,
          maxLen, windowLen)

      def marginMutualMatchesBanded(right: DataFrame,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding",
                                    k: Int = 4,
                                    minMarginMicro: Long = 1000000L,
                                    nPlanes: Int = 12, bands: Int = 8,
                                    maxBucket: Int = 0): DataFrame =
        SimOps.marginMutualMatchesBanded(df, right, idCol, vecCol, k,
          minMarginMicro, nPlanes, bands, maxBucket = maxBucket)

      def ivfJoinTopK(corpus: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding", k: Int = 5,
                      nCells: Int = 0, nProbe: Int = 4,
                      maxCell: Int = 0): DataFrame =
        SimOps.ivfJoinTopK(df, corpus, idCol, vecCol, k, nCells, nProbe,
          maxCell = maxCell)

      def trainDsir(raw: DataFrame, textCol: String = "text",
                    dim: Int = 1 << 16, alpha: Double = 1.0): TextOps.DsirModel =
        TextOps.trainDsir(df, raw, textCol, dim, alpha)

      def dsirScore(model: TextOps.DsirModel, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
        TextOps.dsirScore(df, idCol, textCol, model)

      def gumbelTopKPerGroup(groupCol: String, keyCol: String,
                             weightMicroCol: String, k: Int,
                             salt: String = "graft-gumbel"): DataFrame =
        SampleOps.gumbelTopKPerGroup(df, groupCol, keyCol, weightMicroCol,
          k, salt)

      def rateSpikesAgainstBaseline(baseline: DataFrame,
                                    tsCol: String = "ts",
                                    typeCol: String = "event_type",
                                    valueCol: String = "value",
                                    widthSeconds: Long = 3600,
                                    hopSeconds: Long = 900,
                                    zThreshold: Double = 2.0): DataFrame =
        EventOps.rateSpikesAgainstBaseline(df, baseline, tsCol, typeCol,
          valueCol, widthSeconds, hopSeconds, zThreshold)

      def dsirScoreIndexed(name: String, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
        TextOps.dsirScoreIndexed(df, idCol, textCol, name)

      def prototypeSelect(k: Int, iters: Int, perCluster: Int,
                          keepClosest: Boolean = true,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          scale: Int = 1000): DataFrame =
        SimOps.prototypeSelect(df, idCol, vecCol, k, iters, perCluster,
          keepClosest, scale)

      def unimaxBudgets(groupCol: String, tokensCol: String,
                        totalBudget: Long, maxEpochsMicro: Long): DataFrame =
        SampleOps.unimaxBudgets(df, groupCol, tokensCol, totalBudget,
          maxEpochsMicro)

      def sampleToBudgets(keyCol: String, groupCol: String,
                          budgets: DataFrame,
                          salt: String = "graft"): DataFrame =
        SampleOps.sampleToBudgets(df, keyCol, groupCol, budgets, salt)

      def leakageFreeSplit(canonicalMap: DataFrame, nSplits: Int,
                           idCol: String = "doc_id",
                           salt: String = "graft"): DataFrame =
        SampleOps.leakageFreeSplit(df, idCol, canonicalMap, nSplits, salt)

      def lengthBucketBatches(lenCol: String, boundaries: Seq[Long],
                              batchSize: Int, idCol: String = "doc_id",
                              salt: String = "graft"): DataFrame =
        SampleOps.lengthBucketBatches(df, idCol, lenCol, boundaries,
          batchSize, salt)

      def mixtureInterleave(sourceCol: String, weights: Map[String, Double],
                            keyCol: String = "doc_id",
                            salt: String = "graft"): DataFrame =
        SampleOps.mixtureInterleave(df, keyCol, sourceCol, weights, salt)

      def thresholdSweep(scoreCol: String, tokensCol: String,
                         cutoffs: Seq[Long]): DataFrame =
        GateOps.thresholdSweep(df, scoreCol, tokensCol, cutoffs)

      def gate(rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
        GateOps.gate(df, rules)

      def gateFunnel(rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
        GateOps.gateFunnel(df, rules)

      def gateKeep(rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
        GateOps.gateKeep(df, rules)

      def paragraphDedup(idCol: String = "doc_id", textCol: String = "text",
                         delimiter: String = "\n\n"): DataFrame =
        DedupOps.paragraphDedup(df, idCol, textCol, delimiter)

      def paragraphDedupAgainstStore(name: String,
                                     idCol: String = "doc_id",
                                     textCol: String = "text"): DataFrame =
        DedupOps.paragraphDedupAgainstStore(df, idCol, textCol, name)

      def bm25TopKPerQuery(queries: DataFrame, k: Int = 10,
                           idCol: String = "doc_id", textCol: String = "text",
                           qidCol: String = "qid",
                           qtextCol: String = "qtext"): DataFrame =
        SearchOps.bm25TopKPerQuery(df, idCol, textCol, queries, qidCol,
          qtextCol, k)

      def mineHardNegatives(queries: DataFrame, positives: DataFrame,
                            k: Int = 10, idCol: String = "doc_id",
                            textCol: String = "text", qidCol: String = "qid",
                            qtextCol: String = "qtext"): DataFrame =
        SearchOps.mineHardNegatives(df, idCol, textCol, queries, qidCol,
          qtextCol, positives, k)

      def domainQualityRanking(metricCol: String, urlCol: String = "url",
                               pseudoCount: Int = 100): DataFrame =
        TextOps.domainQualityRanking(df, urlCol, metricCol, pseudoCount)
    }
  }
}
