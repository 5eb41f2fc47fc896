package graft.config

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

import graft.util.Json

/** JSON config loader — the engine's equivalent of the reference's TOML
  * deserialization (src/config/sequence_config.rs:179-276), including the
  * two-phase variable substitution: `${ENV}` first (T1), then
  * `[global].shared_variables` (T2). The offline build ships no TOML
  * parser, so configs are JSON with the same field names (documented
  * deviation, SURVEY §7.1).
  */
object JsonConfig {

  def loadSequence(text: String, env: Map[String, String] = sys.env): SequenceDef = {
    // phase 1: env substitution, then a first parse just for shared_variables
    val afterEnv = Templates.substEnv(text, env)
    val pre = Json.parse(afterEnv)
    val sharedVars = obj(pre.path("global").path("shared_variables"))
      .map { case (k, v) => k -> String.valueOf(v) }
    // phase 2: shared-variable substitution, then the real parse
    val root = Json.parse(Templates.substShared(afterEnv, sharedVars))
    parseSequence(root, sharedVars)
  }

  private def parseSequence(root: JsonNode, sharedVars: Map[String, String]): SequenceDef = {
    val seqNode = root.path("sequence")
    val pipelines = root.path("pipelines") match {
      case a if a.isArray => a.elements().asScala.map(parsePipeline).toVector
      case _ => Vector.empty
    }
    SequenceDef(
      name = str(seqNode.path("name")).getOrElse("sequence"),
      executionOrder = strSeq(seqNode.path("execution_order")) match {
        case Nil => pipelines.map(_.name)
        case xs => xs
      },
      pipelines = pipelines,
      sharedVariables = sharedVars,
      onPipelineFailure = str(root.path("error_handling").path("on_pipeline_failure"))
        .getOrElse("stop"),
      onTransformError = str(root.path("error_handling").path("on_transform_error"))
        .getOrElse("stop"),
      onLoadError = str(root.path("error_handling").path("on_load_error"))
        .getOrElse("stop"),
      retryAttempts = int(root.path("error_handling").path("retry_attempts")).getOrElse(0),
      retryDelayMs = long(root.path("error_handling").path("retry_delay_ms")).getOrElse(0L),
      monitoringEnabled = bool(root.path("monitoring").path("enabled")).getOrElse(false),
      metricsFile = str(root.path("monitoring").path("metrics_file")))
  }

  def parsePipeline(n: JsonNode): PipelineDef = PipelineDef(
    name = str(n.path("name")).getOrElse(sys.error("pipeline missing name")),
    source = parseSource(n.path("source")),
    extract = parseExtract(n.path("extract")),
    transform = parseTransform(n.path("transform")),
    load = if (n.path("load").isObject) Some(parseLoad(n.path("load"))) else None,
    dependencies = strSeq(n.path("dependencies")),
    conditions = parseConditions(n.path("conditions")))

  private def parseHttp(n: JsonNode): HttpRequestDef = HttpRequestDef(
    endpoint = str(n.path("endpoint")).getOrElse(sys.error("source missing endpoint")),
    method = str(n.path("method")).getOrElse("GET"),
    headers = strMap(n.path("headers")),
    queryParams = strMap(n.path("query_params")),
    payload = str(n.path("payload")),
    contentType = str(n.path("content_type")),
    timeoutSeconds = int(n.path("timeout_seconds")).getOrElse(30))

  def parseSource(n: JsonNode): SourceDef = str(n.path("type")).getOrElse("api") match {
    case "file" => FileSource(
      path = str(n.path("path")).getOrElse(sys.error("file source missing path")),
      format = str(n.path("format")).getOrElse("parquet"),
      options = strMap(n.path("options")))
    case "previous" => PreviousSource(str(n.path("pipeline")))
    case "combined" =>
      if (bool(n.path("merge_with_api")).getOrElse(false)) MergedApiSource(parseHttp(n))
      else CombinedSource
    case "parameterized" => ParameterizedApiSource(
      parseHttp(n), str(n.path("from_pipeline")),
      long(n.path("rate_limit_ms")).getOrElse(0L))
    case _ => ApiSource(parseHttp(n))
  }

  private def parseExtract(n: JsonNode): ExtractDef = ExtractDef(
    fieldMapping = strMap(n.path("field_mapping")),
    maxRecords = int(n.path("max_records")),
    concurrentRequests = int(n.path("concurrent_requests")),
    firstRecordOnly = bool(n.path("first_record_only")).getOrElse(false),
    filters = obj(n.path("filters")),
    processing = {
      val p = n.path("data_processing")
      DataProcessingDef(
        deduplicate = bool(p.path("deduplicate")).getOrElse(false),
        deduplicateFields = strSeq(p.path("deduplicate_fields")),
        sortBy = str(p.path("sort_by")),
        sortOrder = str(p.path("sort_order")).getOrElse("asc"),
        sortAsString = bool(p.path("sort_as_string")).getOrElse(false))
    },
    onApiFailure = str(n.path("error_handling").path("on_api_failure"))
      .getOrElse("use_sample_data"),
    sampleData = n.path("sample_data") match {
      case a if a.isArray => a.elements().asScala.map(_.toString).toVector
      case _ => Vector.empty
    })

  private def parseTransform(n: JsonNode): TransformDef = TransformDef(
    fieldMapping = strMap(n.path("field_mapping")),
    keepOnlyFields = strSeq(n.path("keep_only_fields")),
    excludeFields = strSeq(n.path("exclude_fields")),
    cleanText = strSeq(n.path("operations")).contains("clean_text"),
    normalizeFields = strSeq(n.path("normalize_fields")),
    trimWhitespace = bool(n.path("trim_whitespace")).getOrElse(false),
    removeHtmlTagsFields = strSeq(n.path("remove_html_tags_fields")),
    computedFields = strMap(n.path("computed_fields")),
    recordIndexOrderBy = strSeq(n.path("record_index_order_by")),
    enrichment = strMap(n.path("data_enrichment").path("lookup_data")),
    lookup = if (n.path("lookup").isObject) {
      val l = n.path("lookup")
      Some(LookupDef(
        path = str(l.path("path")).getOrElse(sys.error("lookup missing path")),
        format = str(l.path("format")).getOrElse("csv"),
        key = str(l.path("key")).getOrElse(sys.error("lookup missing key")),
        options = strMap(l.path("options"))))
    } else None,
    mergeWithPrevious = bool(n.path("merge_with_previous")).getOrElse(false),
    mergeKey = str(n.path("merge_key")).getOrElse("id"),
    nearDedup = if (n.path("near_dedup").isObject) {
      val nd = n.path("near_dedup")
      Some(NearDedupDef(
        idField = str(nd.path("id_field")).getOrElse(sys.error("near_dedup missing id_field")),
        textField = str(nd.path("text_field")).getOrElse(sys.error("near_dedup missing text_field")),
        shingleSize = int(nd.path("shingle_size")).getOrElse(2)))
    } else None,
    winnowDedup = if (n.path("winnow_dedup").isObject) {
      val wd = n.path("winnow_dedup")
      Some(WinnowDedupDef(
        idField = str(wd.path("id_field")).getOrElse(sys.error("winnow_dedup missing id_field")),
        textField = str(wd.path("text_field")).getOrElse(sys.error("winnow_dedup missing text_field")),
        k = int(wd.path("k")).getOrElse(8),
        w = int(wd.path("w")).getOrElse(4),
        maxDocsPerFp = int(wd.path("max_docs_per_fp")).getOrElse(50).toLong,
        minShared = int(wd.path("min_shared")).getOrElse(2).toLong,
        minOverlap =
          if (wd.path("min_overlap").isNumber) wd.path("min_overlap").asDouble()
          else 0.5))
    } else None,
    payloadDedup = if (n.path("payload_dedup").isObject) {
      val pd = n.path("payload_dedup")
      Some(PayloadDedupDef(
        idField = str(pd.path("id_field")).getOrElse(sys.error("payload_dedup missing id_field")),
        payloadField = str(pd.path("payload_field")).getOrElse(sys.error("payload_dedup missing payload_field")),
        maxHamming = int(pd.path("max_hamming")).getOrElse(3)))
    } else None,
    payloadDedupRegistry = if (n.path("payload_dedup_registry").isObject) {
      val pr = n.path("payload_dedup_registry")
      Some(PayloadDedupRegistryDef(
        idField = str(pr.path("id_field")).getOrElse(sys.error("payload_dedup_registry missing id_field")),
        payloadField = str(pr.path("payload_field")).getOrElse(sys.error("payload_dedup_registry missing payload_field")),
        historyPath = str(pr.path("history_path")).getOrElse(sys.error("payload_dedup_registry missing history_path")),
        historyFormat = str(pr.path("history_format")).getOrElse("parquet"),
        historyIdField = str(pr.path("history_id_field"))
          .orElse(str(pr.path("id_field"))).getOrElse(sys.error("payload_dedup_registry missing id fields")),
        historyPayloadField = str(pr.path("history_payload_field"))
          .orElse(str(pr.path("payload_field"))).getOrElse(sys.error("payload_dedup_registry missing payload fields")),
        maxHamming = int(pr.path("max_hamming")).getOrElse(3)))
    } else None,
    crossModalDedup = if (n.path("crossmodal_dedup").isObject) {
      val xm = n.path("crossmodal_dedup")
      Some(CrossModalDedupDef(
        idField = str(xm.path("id_field")).getOrElse(sys.error("crossmodal_dedup missing id_field")),
        textField = str(xm.path("text_field")).getOrElse(sys.error("crossmodal_dedup missing text_field")),
        payloadField = str(xm.path("payload_field")).getOrElse(sys.error("crossmodal_dedup missing payload_field")),
        maxHamming = int(xm.path("max_hamming")).getOrElse(3)))
    } else None,
    imageDedup = if (n.path("image_dedup").isObject) {
      val im = n.path("image_dedup")
      Some(ImageDedupDef(
        idField = str(im.path("id_field")).getOrElse(sys.error("image_dedup missing id_field")),
        payloadField = str(im.path("payload_field")).getOrElse(sys.error("image_dedup missing payload_field")),
        maxHamming = int(im.path("max_hamming")).getOrElse(3)))
    } else None,
    imageSemanticDedup = if (n.path("image_semantic_dedup").isObject) {
      val im = n.path("image_semantic_dedup")
      Some(ImageSemanticDedupDef(
        idField = str(im.path("id_field")).getOrElse(sys.error("image_semantic_dedup missing id_field")),
        payloadField = str(im.path("payload_field")).getOrElse(sys.error("image_semantic_dedup missing payload_field")),
        threshold =
          if (im.path("threshold").isNumber) im.path("threshold").asDouble()
          else 0.99,
        grid = int(im.path("grid")).getOrElse(4)))
    } else None,
    decontaminate = if (n.path("decontaminate").isObject) {
      val dc = n.path("decontaminate")
      Some(DecontaminateDef(
        idField = str(dc.path("id_field")).getOrElse(sys.error("decontaminate missing id_field")),
        textField = str(dc.path("text_field")).getOrElse(sys.error("decontaminate missing text_field")),
        benchPath = str(dc.path("bench_path")).getOrElse(sys.error("decontaminate missing bench_path")),
        benchFormat = str(dc.path("bench_format")).getOrElse("parquet"),
        benchIdField = str(dc.path("bench_id_field")).getOrElse(sys.error("decontaminate missing bench_id_field")),
        benchTextField = str(dc.path("bench_text_field")).getOrElse(sys.error("decontaminate missing bench_text_field")),
        n = int(dc.path("n")).getOrElse(3),
        minOverlapNgrams = int(dc.path("min_overlap_ngrams")).getOrElse(5).toLong,
        k = int(dc.path("k")).getOrElse(8),
        w = int(dc.path("w")).getOrElse(4),
        minContainment =
          if (dc.path("min_containment").isNumber) dc.path("min_containment").asDouble()
          else 0.5))
    } else None,
    stripDupSpans = if (n.path("strip_dup_spans").isObject) {
      val sd = n.path("strip_dup_spans")
      Some(StripDupSpansDef(
        idField = str(sd.path("id_field")).getOrElse(sys.error("strip_dup_spans missing id_field")),
        textField = str(sd.path("text_field")).getOrElse(sys.error("strip_dup_spans missing text_field")),
        k = int(sd.path("k")).getOrElse(8),
        w = int(sd.path("w")).getOrElse(4),
        maxDocsPerFp = int(sd.path("max_docs_per_fp")).getOrElse(50).toLong,
        gap = int(sd.path("gap")).getOrElse(32).toLong,
        minFps = int(sd.path("min_fps")).getOrElse(2).toLong))
    } else None,
    nearDedupRegistry = if (n.path("near_dedup_registry").isObject) {
      val nr = n.path("near_dedup_registry")
      Some(NearDedupRegistryDef(
        idField = str(nr.path("id_field")).getOrElse(sys.error("near_dedup_registry missing id_field")),
        textField = str(nr.path("text_field")).getOrElse(sys.error("near_dedup_registry missing text_field")),
        historyPath = str(nr.path("history_path")).getOrElse(sys.error("near_dedup_registry missing history_path")),
        historyFormat = str(nr.path("history_format")).getOrElse("parquet"),
        historyIdField = str(nr.path("history_id_field"))
          .orElse(str(nr.path("id_field"))).getOrElse(sys.error("near_dedup_registry missing id fields")),
        historyTextField = str(nr.path("history_text_field"))
          .orElse(str(nr.path("text_field"))).getOrElse(sys.error("near_dedup_registry missing text fields")),
        shingleSize = int(nr.path("shingle_size")).getOrElse(2),
        minJaccard =
          if (nr.path("min_jaccard").isNumber) nr.path("min_jaccard").asDouble()
          else 0.5))
    } else None,
    langFilter = if (n.path("lang_filter").isObject) {
      val lf = n.path("lang_filter")
      Some(LangFilterDef(
        field = str(lf.path("field")).getOrElse(sys.error("lang_filter missing field")),
        allowed = strSeq(lf.path("allowed"))))
    } else None,
    qualityFilter = if (n.path("quality_filter").isObject) {
      val qf = n.path("quality_filter")
      Some(QualityFilterDef(
        field = str(qf.path("field")).getOrElse(sys.error("quality_filter missing field")),
        min = if (qf.path("min").isNumber) qf.path("min").asDouble() else 0.0))
    } else None,
    classifierFilter = if (n.path("classifier_filter").isObject) {
      val cf = n.path("classifier_filter")
      def num(key: String, dflt: Double): Double =
        if (cf.path(key).isNumber) cf.path(key).asDouble() else dflt
      Some(ClassifierFilterDef(
        idField = str(cf.path("id_field")).getOrElse(sys.error("classifier_filter missing id_field")),
        textField = str(cf.path("text_field")).getOrElse(sys.error("classifier_filter missing text_field")),
        weightsPath = str(cf.path("weights_path")).getOrElse(sys.error("classifier_filter missing weights_path")),
        weightsFormat = str(cf.path("weights_format")).getOrElse("parquet"),
        nBuckets = int(cf.path("n_buckets")).getOrElse(1024),
        scale = num("scale", 1000.0),
        bias = num("bias", 0.0),
        min = num("min", 0.5)))
    } else None,
    classifierTrain = if (n.path("classifier_train").isObject) {
      val ct = n.path("classifier_train")
      def num(key: String, dflt: Double): Double =
        if (ct.path(key).isNumber) ct.path(key).asDouble() else dflt
      Some(ClassifierTrainDef(
        idField = str(ct.path("id_field")).getOrElse(sys.error("classifier_train missing id_field")),
        textField = str(ct.path("text_field")).getOrElse(sys.error("classifier_train missing text_field")),
        posSource = str(ct.path("pos_source")).getOrElse(sys.error("classifier_train missing pos_source")),
        negSource = str(ct.path("neg_source")).getOrElse(sys.error("classifier_train missing neg_source")),
        srcField = str(ct.path("src_field")).getOrElse("source"),
        nBuckets = int(ct.path("n_buckets")).getOrElse(1024),
        iters = int(ct.path("iters")).getOrElse(3),
        lrDen = if (ct.path("lr_den").isNumber) ct.path("lr_den").asLong()
                else 4096L,
        min = num("min", 0.5)))
    } else None,
    lmFilter = if (n.path("lm_filter").isObject) {
      val lm = n.path("lm_filter")
      Some(LmFilterDef(
        idField = str(lm.path("id_field")).getOrElse(sys.error("lm_filter missing id_field")),
        textField = str(lm.path("text_field")).getOrElse(sys.error("lm_filter missing text_field")),
        srcField = str(lm.path("src_field")).getOrElse(sys.error("lm_filter missing src_field")),
        trainSource = str(lm.path("train_source")).getOrElse(sys.error("lm_filter missing train_source")),
        threshBits = int(lm.path("thresh_bits")).getOrElse(8)))
    } else None,
    gopherFilter = if (n.path("gopher_filter").isObject) {
      val gf = n.path("gopher_filter")
      def num(key: String, dflt: Double): Double =
        if (gf.path(key).isNumber) gf.path(key).asDouble() else dflt
      def lng(key: String, dflt: Long): Long =
        if (gf.path(key).isNumber) gf.path(key).asLong() else dflt
      Some(GopherFilterDef(
        textField = str(gf.path("text_field")).getOrElse(sys.error("gopher_filter missing text_field")),
        minWords = lng("min_words", 50),
        maxWords = lng("max_words", 100000),
        minMeanWordLen = num("min_mean_word_len", 3.0),
        maxMeanWordLen = num("max_mean_word_len", 10.0),
        maxSymbolRatio = num("max_symbol_ratio", 0.1),
        maxBulletFrac = num("max_bullet_frac", 0.9),
        maxEllipsisFrac = num("max_ellipsis_frac", 0.3),
        minAlphaFrac = num("min_alpha_frac", 0.8),
        minStopwords = int(gf.path("min_stopwords")).getOrElse(2)))
    } else None,
    c4Clean = if (n.path("c4_clean").isObject) {
      val cc = n.path("c4_clean")
      Some(C4CleanDef(
        textField = str(cc.path("text_field")).getOrElse(sys.error("c4_clean missing text_field")),
        window = int(cc.path("window")).getOrElse(10),
        minSegWords = int(cc.path("min_seg_words")).getOrElse(5),
        minSegs = int(cc.path("min_segs")).getOrElse(3),
        blacklist =
          if (cc.path("blacklist").isArray) strSeq(cc.path("blacklist"))
          else graft.operators.TextOps.C4Blacklist))
    } else None,
    dsirSelect = if (n.path("dsir_select").isObject) {
      val ds = n.path("dsir_select")
      Some(DsirSelectDef(
        idField = str(ds.path("id_field")).getOrElse(sys.error("dsir_select missing id_field")),
        textField = str(ds.path("text_field")).getOrElse(sys.error("dsir_select missing text_field")),
        targetPath = str(ds.path("target_path")).getOrElse(sys.error("dsir_select missing target_path")),
        targetFormat = str(ds.path("target_format")).getOrElse("parquet"),
        targetTextField = str(ds.path("target_text_field")),
        nBuckets = int(ds.path("n_buckets")).getOrElse(4096),
        k = int(ds.path("k")).getOrElse(1000)))
    } else None,
    repetitionFilter = if (n.path("repetition_filter").isObject) {
      val rf = n.path("repetition_filter")
      def num(key: String, dflt: Double): Double =
        if (rf.path(key).isNumber) rf.path(key).asDouble() else dflt
      val dTop = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
      val dDup = Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
        9 -> 0.11, 10 -> 0.10)
      Some(RepetitionFilterDef(
        textField = str(rf.path("text_field")).getOrElse(sys.error("repetition_filter missing text_field")),
        topThresholds = dTop.map { case (k, v) => k -> num(s"top_$k", v) },
        dupThresholds = dDup.map { case (k, v) => k -> num(s"dup_$k", v) }))
    } else None,
    sample = if (n.path("sample").isObject) {
      val sd = n.path("sample")
      Some(SampleDef(
        idField = str(sd.path("id_field")).getOrElse(sys.error("sample missing id_field")),
        strataField = str(sd.path("strata_field"))
          .getOrElse(sys.error("sample missing strata_field")),
        rates = obj(sd.path("rates")).collect {
          case (k, v: Number) => k -> v.doubleValue()
        },
        defaultRate =
          if (sd.path("default_rate").isNumber) sd.path("default_rate").asDouble()
          else 0.0))
    } else None,
    epochPack = if (n.path("epoch_pack").isObject) {
      val ep = n.path("epoch_pack")
      Some(EpochPackDef(
        idField = str(ep.path("id_field")).getOrElse(sys.error("epoch_pack missing id_field")),
        textField = str(ep.path("text_field")).getOrElse(sys.error("epoch_pack missing text_field")),
        budget = long(ep.path("budget")).getOrElse(512L),
        nShards = long(ep.path("n_shards")).getOrElse(4L).toInt,
        salt = str(ep.path("salt")).getOrElse("epoch1"),
        mixField = str(ep.path("mix_field")),
        mixBudgetTokens = long(ep.path("mix_budget_tokens")).getOrElse(0L),
        temperature =
          if (ep.path("temperature").isNumber) ep.path("temperature").asDouble()
          else 2.0,
        mergesPath = str(ep.path("merges_path")),
        mergesFormat = str(ep.path("merges_format")).getOrElse("parquet"),
        trainMerges = long(ep.path("train_merges")).getOrElse(0L).toInt,
        layout = str(ep.path("layout")).getOrElse("shuffle"),
        diffField = str(ep.path("diff_field"))))
    } else None,
    addProcessedFlags = bool(n.path("add_processed_flags")).getOrElse(true),
    intermediate = if (n.path("intermediate").isObject) {
      val i = n.path("intermediate")
      Some(IntermediateDef(
        conditions = obj(i.path("conditions")),
        minConditions = obj(i.path("min_conditions")).collect {
          case (k, v: Number) => k -> v.doubleValue()
        },
        sharedKey = str(i.path("shared_key")).getOrElse("")))
    } else None,
    validation = if (n.path("validation").isObject) {
      val v = n.path("validation")
      Some(ValidationDef(
        requiredFields = strSeq(v.path("required_fields")),
        minRecords = long(v.path("min_records")),
        maxRecords = long(v.path("max_records"))))
    } else None)

  private def parseLoad(n: JsonNode): LoadDef = {
    // The reference renders one file per format; graft defaults to the
    // scalable distributed part-file layout. A config that omits the key
    // gets a different output shape than it would under the reference —
    // say so once instead of silently changing the layout.
    if (!n.path("single_file").isBoolean && !n.path("zip").asBoolean(false))
      System.err.println(
        "[graft] load.single_file not set: defaulting to DISTRIBUTED part-file " +
          "output (reference wrote one file per format; set single_file=true " +
          "for that layout)")
    LoadDef(
    outputPath = str(n.path("output_path")).getOrElse(sys.error("load missing output_path")),
    formats = strSeq(n.path("formats")) match { case Nil => Seq("csv"); case xs => xs },
    filenamePattern = str(n.path("filename_pattern")).getOrElse("{pipeline_name}_output"),
    zip = bool(n.path("zip")).getOrElse(false),
    includeMetadata = bool(n.path("compression").path("include_metadata"))
      .orElse(bool(n.path("include_metadata"))).getOrElse(false),
    filenames = strMap(n.path("filenames")),
    partitionBy = strSeq(n.path("partition_by")),
    singleFile = bool(n.path("single_file")).getOrElse(false),
    singleFileMaxRows = long(n.path("single_file_max_rows")).getOrElse(1000000L),
    mode = str(n.path("mode")).getOrElse("overwrite"),
    maxRecordsPerFile = long(n.path("max_records_per_file")).getOrElse(0L),
    appendToSequence = bool(n.path("append_to_sequence")).getOrElse(false))
  }

  private def parseConditions(n: JsonNode): ConditionsDef = ConditionsDef(
    enabled = bool(n.path("enabled")).getOrElse(true),
    whenPreviousSucceeded = bool(n.path("when_previous_succeeded")).getOrElse(false),
    whenRecordsCount = if (n.path("when_records_count").isObject) {
      val rc = n.path("when_records_count")
      Some(RecordsCountCond(
        min = long(rc.path("min")),
        max = long(rc.path("max")),
        fromPipeline = str(rc.path("from_pipeline"))))
    } else None,
    whenSharedData = obj(n.path("when_shared_data")),
    skipIfEmpty = bool(n.path("skip_if_empty")).getOrElse(false))

  // ----- JsonNode helpers -----
  private def str(n: JsonNode): Option[String] =
    if (n.isTextual) Some(n.asText()) else None
  private def int(n: JsonNode): Option[Int] =
    if (n.isNumber) Some(n.asInt()) else None
  private def long(n: JsonNode): Option[Long] =
    if (n.isNumber) Some(n.asLong()) else None
  private def bool(n: JsonNode): Option[Boolean] =
    if (n.isBoolean) Some(n.asBoolean()) else None
  private def strSeq(n: JsonNode): Seq[String] =
    if (n.isArray) n.elements().asScala.map(_.asText()).toVector else Nil
  private def strMap(n: JsonNode): Map[String, String] =
    if (n.isObject)
      n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    else Map.empty
  private def obj(n: JsonNode): Map[String, Any] =
    if (n.isObject)
      n.properties().asScala.map(e => e.getKey -> Json.toScala(e.getValue)).toMap
    else Map.empty
}
