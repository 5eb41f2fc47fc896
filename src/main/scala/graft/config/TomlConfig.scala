package graft.config

/** TOML config front-end: loads a REFERENCE-SHAPED `.toml` sequence
  * config (reference: configs/sequence-example.toml, parser surface
  * src/config/sequence_config.rs:8-276) into the same `SequenceDef`
  * model `JsonConfig` builds, so a reference user's existing file runs
  * unconverted.
  *
  * Layout adaptations (reference field → graft model):
  *  - `extract.field_mapping`      → `TransformDef.fieldMapping` (graft
  *    applies path extraction in the transform phase)
  *  - `transform.operations.*`     → flat TransformDef flags;
  *    `remove_html_tags = true`    → all string columns (`Seq("*")`)
  *  - `transform.data_enrichment`  → enrichment / computedFields
  *  - `load.output_formats`        → `LoadDef.formats`
  *  - `load.compression.enabled`   → `LoadDef.zip` (+ includeMetadata)
  *  - `error_handling.retry_delay_seconds` → retryDelayMs
  *  - source dispatch: `type="api"` + `data_source.merge_with_api` →
  *    MergedApiSource; `{param}` endpoint or
  *    `payload.use_previous_data_as_params` → ParameterizedApiSource;
  *    `type="previous"|"combined"|"file"` as in JsonConfig.
  *
  * TOML-loaded loads default to `singleFile = true`: the reference
  * renders one file per format, and a reference config should produce
  * reference-shaped output (JSON configs keep the scalable distributed
  * default).
  *
  * Same two-phase `${VAR}` substitution as the reference: environment
  * first, then `[global.shared_variables]` (sequence_config.rs:195-276).
  */
object TomlConfig {

  /** Swappable warning sink (stderr by default) so tests can assert the
    * inert-knob courtesy warnings without scraping process output. */
  @volatile var warnSink: String => Unit =
    msg => System.err.println(s"[graft-config] $msg")

  /** The two `[performance]` knobs that are declared-but-dead in the
    * reference (toml_config.rs:112-117) and deliberately NOT mapped to a
    * pipeline behavior here: both are cluster resource config in Spark.
    * A migrating user who sets them gets told where the knob went
    * instead of being silently ignored (SURVEY §2.12). */
  private def warnInertPerformanceKnobs(root: Map[String, Any]): Unit = {
    val perf = tbl(root.get("performance"))
    if (perf.contains("memory_limit_mb"))
      warnSink("[performance].memory_limit_mb has no per-pipeline effect " +
        "(dead in the reference too); size executor memory instead: " +
        "spark.executor.memory / spark.memory.fraction")
    if (perf.contains("disk_cache_enabled"))
      warnSink("[performance].disk_cache_enabled has no per-pipeline effect " +
        "(dead in the reference too); use Dataset.persist with a " +
        "disk-backed StorageLevel (e.g. MEMORY_AND_DISK) instead")
  }

  def loadSequence(text: String, env: Map[String, String] = sys.env): SequenceDef = {
    val afterEnv = Templates.substEnv(text, env)
    val pre = Toml.parse(afterEnv)
    val sharedVars = strMap(tbl(pre.get("global")).get("shared_variables"))
    val root = Toml.parse(Templates.substShared(afterEnv, sharedVars))
    warnInertPerformanceKnobs(root)
    // Layout dispatch: `[[pipelines]]` = sequence config
    // (sequence_config.rs); top-level `[pipeline]`+`[source]` = the
    // reference's single-pipeline toml_etl layout (toml_config.rs:9-19),
    // wrapped as a one-pipeline sequence.
    if (root.contains("pipelines") || !root.contains("pipeline"))
      parseSequence(root, sharedVars)
    else parseSingle(root, sharedVars)
  }

  /** Single-pipeline layout (reference `toml_etl` / MVP, toml_config.rs):
    * top-level [pipeline]/[source]/[extract]/[transform]/[load] tables,
    * with [error_handling].on_api_failure at the root and retry knobs on
    * the source. */
  private def parseSingle(root: Map[String, Any], sharedVars: Map[String, String]): SequenceDef = {
    val pT = tbl(root.get("pipeline"))
    val name = str(pT.get("name")).getOrElse("pipeline")
    val eh = tbl(root.get("error_handling"))
    val srcT = tbl(root.get("source"))
    // [performance].request_timeout (toml_config.rs:112-117,
    // declared-but-dead in the reference): honest config-wide default
    // HTTP timeout. memory_limit_mb / disk_cache_enabled stay inert
    // (cluster resource config in Spark, SURVEY §2.12) but warn via
    // warnInertPerformanceKnobs at loadSequence.
    val defTimeout = long(tbl(root.get("performance")).get("request_timeout"))
      .getOrElse(30L)
    val extract0 = parseExtract(tbl(root.get("extract")))
    val pipeline = PipelineDef(
      name = name,
      source = parseSource(srcT, defTimeout),
      extract = str(eh.get("on_api_failure"))
        .map(v => extract0.copy(onApiFailure = v)).getOrElse(extract0),
      transform = parseTransform(tbl(root.get("transform"))),
      load = root.get("load").collect { case t: Map[String, Any] @unchecked => parseLoad(t) })
    SequenceDef(
      name = name,
      executionOrder = Seq(name),
      pipelines = Seq(pipeline),
      sharedVariables = sharedVars,
      onTransformError = str(eh.get("on_transform_error")).getOrElse("stop"),
      onLoadError = str(eh.get("on_load_error")).getOrElse("stop"),
      retryAttempts = long(srcT.get("retry_attempts")).getOrElse(0L).toInt,
      retryDelayMs = long(srcT.get("retry_delay_seconds")).map(_ * 1000L).getOrElse(0L),
      monitoringEnabled = bool(tbl(root.get("monitoring")).get("enabled")).getOrElse(false),
      metricsFile = str(tbl(root.get("monitoring")).get("metrics_file")))
  }

  private def parseSequence(root: Map[String, Any], sharedVars: Map[String, String]): SequenceDef = {
    val seqT = tbl(root.get("sequence"))
    val defTimeout = long(tbl(root.get("performance")).get("request_timeout"))
      .getOrElse(30L)
    val pipelines = arr(root.get("pipelines")).collect {
      case t: Map[String, Any] @unchecked => parsePipeline(t, defTimeout)
    }
    val eh = tbl(root.get("error_handling"))
    SequenceDef(
      name = str(seqT.get("name")).getOrElse("sequence"),
      executionOrder = strSeq(seqT.get("execution_order")) match {
        case Nil => pipelines.map(_.name)
        case xs => xs
      },
      pipelines = pipelines,
      sharedVariables = sharedVars,
      onPipelineFailure = str(eh.get("on_pipeline_failure")).getOrElse("stop"),
      onTransformError = str(eh.get("on_transform_error")).getOrElse("stop"),
      onLoadError = str(eh.get("on_load_error")).getOrElse("stop"),
      retryAttempts = long(eh.get("retry_attempts")).getOrElse(0L).toInt,
      retryDelayMs = long(eh.get("retry_delay_ms"))
        .orElse(long(eh.get("retry_delay_seconds")).map(_ * 1000L))
        .getOrElse(0L),
      monitoringEnabled = bool(tbl(root.get("monitoring")).get("enabled")).getOrElse(false),
      metricsFile = str(tbl(root.get("monitoring")).get("metrics_file")))
  }

  private def parsePipeline(n: Map[String, Any], defTimeout: Long = 30L): PipelineDef = {
    val name = str(n.get("name")).getOrElse(sys.error("pipeline missing name"))
    val extractT = tbl(n.get("extract"))
    val transformT = tbl(n.get("transform"))
    PipelineDef(
      name = name,
      source = parseSource(tbl(n.get("source")), defTimeout),
      extract = parseExtract(extractT),
      transform = parseTransform(transformT),
      load = n.get("load").collect { case t: Map[String, Any] @unchecked => parseLoad(t) },
      dependencies = strSeq(n.get("dependencies")),
      conditions = parseConditions(tbl(n.get("conditions")),
        enabled = bool(n.get("enabled")).getOrElse(true)))
  }

  private def parseHttp(n: Map[String, Any], defTimeout: Long): HttpRequestDef = {
    val payloadT = tbl(n.get("payload"))
    HttpRequestDef(
      endpoint = str(n.get("endpoint")).getOrElse(sys.error("source missing endpoint")),
      method = str(n.get("method")).getOrElse("GET"),
      headers = strMap(n.get("headers")),
      queryParams = strMap(n.get("parameters")).++(strMap(n.get("query_params"))),
      payload = str(payloadT.get("body")).orElse(str(n.get("payload_body"))),
      contentType = str(payloadT.get("content_type")),
      // source-level timeout_seconds wins; [performance].request_timeout
      // (toml_config.rs:113, declared-but-dead there) is the honest
      // config-wide default
      timeoutSeconds = long(n.get("timeout_seconds")).getOrElse(defTimeout).toInt)
  }

  private def parseSource(n: Map[String, Any], defTimeout: Long = 30L): SourceDef = {
    val ds = tbl(n.get("data_source"))
    val payloadT = tbl(n.get("payload"))
    str(n.get("type")).getOrElse("api") match {
      case "file" => FileSource(
        path = str(n.get("path")).getOrElse(sys.error("file source missing path")),
        format = str(n.get("format")).getOrElse("parquet"),
        options = strMap(n.get("options")))
      case "previous" => PreviousSource(str(ds.get("from_pipeline")))
      case "combined" =>
        if (bool(ds.get("merge_with_api")).getOrElse(false)) MergedApiSource(parseHttp(n, defTimeout))
        else CombinedSource
      case "parameterized" => ParameterizedApiSource(
        parseHttp(n, defTimeout), str(ds.get("from_pipeline")),
        long(n.get("rate_limit_ms")).getOrElse(0L))
      case _ => // "api"
        val http = parseHttp(n, defTimeout)
        val fansOut =
          bool(payloadT.get("use_previous_data_as_params")).getOrElse(false) ||
            (bool(ds.get("use_previous_output")).getOrElse(false) &&
              hasSingleBraceParam(http.endpoint))
        if (bool(ds.get("merge_with_api")).getOrElse(false)) MergedApiSource(http)
        else if (fansOut)
          ParameterizedApiSource(http, str(ds.get("from_pipeline")),
            long(n.get("rate_limit_ms")).getOrElse(0L))
        else ApiSource(http)
    }
  }

  private def parseExtract(n: Map[String, Any]): ExtractDef = {
    val proc = tbl(n.get("data_processing"))
    val eh = tbl(n.get("error_handling"))
    ExtractDef(
      fieldMapping = strMap(n.get("field_mapping")),
      maxRecords = long(n.get("max_records")).map(_.toInt),
      concurrentRequests = long(n.get("concurrent_requests")).map(_.toInt),
      firstRecordOnly = bool(n.get("first_record_only")).getOrElse(false),
      filters = tbl(n.get("filters")),
      processing = DataProcessingDef(
        deduplicate = bool(proc.get("deduplicate")).getOrElse(false),
        deduplicateFields = strSeq(proc.get("deduplicate_fields")),
        sortBy = str(proc.get("sort_by")),
        sortOrder = str(proc.get("sort_order")).getOrElse("asc"),
        sortAsString = bool(proc.get("sort_as_string")).getOrElse(false)),
      onApiFailure = str(eh.get("on_api_failure")).getOrElse("use_sample_data"),
      sampleData = arr(n.get("sample_data")).map(String.valueOf))
  }

  /** Curation-extension tables (graft-specific, same keys as the JSON
    * front-end): `[pipelines.transform.near_dedup]`, `winnow_dedup`,
    * `payload_dedup`, `payload_dedup_registry`, `crossmodal_dedup`,
    * `decontaminate`, `strip_dup_spans`, `near_dedup_registry`,
    * `lang_filter`, `quality_filter`, `classifier_filter`,
    * `classifier_train`, `lm_filter`, `gopher_filter`, `c4_clean`, `dsir_select`,
    * `repetition_filter`,
    * `sample` — reference-style TOML
    * configs get the full LLM-curation transform surface too. */
  private def parseCuration(n: Map[String, Any]): TransformDef => TransformDef = { base =>
    val nd = tbl(n.get("near_dedup"))
    val wd = tbl(n.get("winnow_dedup"))
    val pd = tbl(n.get("payload_dedup"))
    val pr = tbl(n.get("payload_dedup_registry"))
    val xm = tbl(n.get("crossmodal_dedup"))
    val imd = tbl(n.get("image_dedup"))
    val isd = tbl(n.get("image_semantic_dedup"))
    val dc = tbl(n.get("decontaminate"))
    val sd = tbl(n.get("strip_dup_spans"))
    val nr = tbl(n.get("near_dedup_registry"))
    val lf = tbl(n.get("lang_filter"))
    val qf = tbl(n.get("quality_filter"))
    val cf = tbl(n.get("classifier_filter"))
    val ct = tbl(n.get("classifier_train"))
    val lm = tbl(n.get("lm_filter"))
    val gf = tbl(n.get("gopher_filter"))
    val cc = tbl(n.get("c4_clean"))
    val ds = tbl(n.get("dsir_select"))
    val rf = tbl(n.get("repetition_filter"))
    val sa = tbl(n.get("sample"))
    val epk = tbl(n.get("epoch_pack"))
    // A DECLARED curation table with no keys (e.g. an empty
    // `[pipelines.transform.decontaminate]`) is a config mistake, not an
    // absent stage: parse it anyway so the missing-required-field errors
    // fire instead of silently skipping the stage the user asked for.
    def declared(key: String, t: Map[String, Any]): Boolean =
      n.contains(key) || t.nonEmpty
    base.copy(
      nearDedup =
        if (!declared("near_dedup", nd)) None
        else Some(NearDedupDef(
          idField = str(nd.get("id_field")).getOrElse(sys.error("near_dedup missing id_field")),
          textField = str(nd.get("text_field")).getOrElse(sys.error("near_dedup missing text_field")),
          shingleSize = long(nd.get("shingle_size")).getOrElse(2L).toInt)),
      winnowDedup =
        if (!declared("winnow_dedup", wd)) None
        else Some(WinnowDedupDef(
          idField = str(wd.get("id_field")).getOrElse(sys.error("winnow_dedup missing id_field")),
          textField = str(wd.get("text_field")).getOrElse(sys.error("winnow_dedup missing text_field")),
          k = long(wd.get("k")).getOrElse(8L).toInt,
          w = long(wd.get("w")).getOrElse(4L).toInt,
          maxDocsPerFp = long(wd.get("max_docs_per_fp")).getOrElse(50L),
          minShared = long(wd.get("min_shared")).getOrElse(2L),
          minOverlap = dbl(wd.get("min_overlap")).getOrElse(0.5))),
      payloadDedup =
        if (!declared("payload_dedup", pd)) None
        else Some(PayloadDedupDef(
          idField = str(pd.get("id_field")).getOrElse(sys.error("payload_dedup missing id_field")),
          payloadField = str(pd.get("payload_field")).getOrElse(sys.error("payload_dedup missing payload_field")),
          maxHamming = long(pd.get("max_hamming")).getOrElse(3L).toInt)),
      payloadDedupRegistry =
        if (!declared("payload_dedup_registry", pr)) None
        else Some(PayloadDedupRegistryDef(
          idField = str(pr.get("id_field")).getOrElse(sys.error("payload_dedup_registry missing id_field")),
          payloadField = str(pr.get("payload_field")).getOrElse(sys.error("payload_dedup_registry missing payload_field")),
          historyPath = str(pr.get("history_path")).getOrElse(sys.error("payload_dedup_registry missing history_path")),
          historyFormat = str(pr.get("history_format")).getOrElse("parquet"),
          historyIdField = str(pr.get("history_id_field"))
            .orElse(str(pr.get("id_field"))).getOrElse(sys.error("payload_dedup_registry missing id fields")),
          historyPayloadField = str(pr.get("history_payload_field"))
            .orElse(str(pr.get("payload_field"))).getOrElse(sys.error("payload_dedup_registry missing payload fields")),
          maxHamming = long(pr.get("max_hamming")).getOrElse(3L).toInt)),
      crossModalDedup =
        if (!declared("crossmodal_dedup", xm)) None
        else Some(CrossModalDedupDef(
          idField = str(xm.get("id_field")).getOrElse(sys.error("crossmodal_dedup missing id_field")),
          textField = str(xm.get("text_field")).getOrElse(sys.error("crossmodal_dedup missing text_field")),
          payloadField = str(xm.get("payload_field")).getOrElse(sys.error("crossmodal_dedup missing payload_field")),
          maxHamming = long(xm.get("max_hamming")).getOrElse(3L).toInt)),
      imageDedup =
        if (!declared("image_dedup", imd)) None
        else Some(ImageDedupDef(
          idField = str(imd.get("id_field")).getOrElse(sys.error("image_dedup missing id_field")),
          payloadField = str(imd.get("payload_field")).getOrElse(sys.error("image_dedup missing payload_field")),
          maxHamming = long(imd.get("max_hamming")).getOrElse(3L).toInt)),
      imageSemanticDedup =
        if (!declared("image_semantic_dedup", isd)) None
        else Some(ImageSemanticDedupDef(
          idField = str(isd.get("id_field")).getOrElse(sys.error("image_semantic_dedup missing id_field")),
          payloadField = str(isd.get("payload_field")).getOrElse(sys.error("image_semantic_dedup missing payload_field")),
          threshold = dbl(isd.get("threshold")).getOrElse(0.99),
          grid = long(isd.get("grid")).getOrElse(4L).toInt)),
      decontaminate =
        if (!declared("decontaminate", dc)) None
        else Some(DecontaminateDef(
          idField = str(dc.get("id_field")).getOrElse(sys.error("decontaminate missing id_field")),
          textField = str(dc.get("text_field")).getOrElse(sys.error("decontaminate missing text_field")),
          benchPath = str(dc.get("bench_path")).getOrElse(sys.error("decontaminate missing bench_path")),
          benchFormat = str(dc.get("bench_format")).getOrElse("parquet"),
          benchIdField = str(dc.get("bench_id_field")).getOrElse(sys.error("decontaminate missing bench_id_field")),
          benchTextField = str(dc.get("bench_text_field")).getOrElse(sys.error("decontaminate missing bench_text_field")),
          n = long(dc.get("n")).getOrElse(3L).toInt,
          minOverlapNgrams = long(dc.get("min_overlap_ngrams")).getOrElse(5L),
          k = long(dc.get("k")).getOrElse(8L).toInt,
          w = long(dc.get("w")).getOrElse(4L).toInt,
          minContainment = dbl(dc.get("min_containment")).getOrElse(0.5))),
      stripDupSpans =
        if (!declared("strip_dup_spans", sd)) None
        else Some(StripDupSpansDef(
          idField = str(sd.get("id_field")).getOrElse(sys.error("strip_dup_spans missing id_field")),
          textField = str(sd.get("text_field")).getOrElse(sys.error("strip_dup_spans missing text_field")),
          k = long(sd.get("k")).getOrElse(8L).toInt,
          w = long(sd.get("w")).getOrElse(4L).toInt,
          maxDocsPerFp = long(sd.get("max_docs_per_fp")).getOrElse(50L),
          gap = long(sd.get("gap")).getOrElse(32L),
          minFps = long(sd.get("min_fps")).getOrElse(2L))),
      nearDedupRegistry =
        if (!declared("near_dedup_registry", nr)) None
        else Some(NearDedupRegistryDef(
          idField = str(nr.get("id_field")).getOrElse(sys.error("near_dedup_registry missing id_field")),
          textField = str(nr.get("text_field")).getOrElse(sys.error("near_dedup_registry missing text_field")),
          historyPath = str(nr.get("history_path")).getOrElse(sys.error("near_dedup_registry missing history_path")),
          historyFormat = str(nr.get("history_format")).getOrElse("parquet"),
          historyIdField = str(nr.get("history_id_field"))
            .orElse(str(nr.get("id_field"))).getOrElse(sys.error("near_dedup_registry missing id fields")),
          historyTextField = str(nr.get("history_text_field"))
            .orElse(str(nr.get("text_field"))).getOrElse(sys.error("near_dedup_registry missing text fields")),
          shingleSize = long(nr.get("shingle_size")).getOrElse(2L).toInt,
          minJaccard = dbl(nr.get("min_jaccard")).getOrElse(0.5))),
      langFilter =
        if (!declared("lang_filter", lf)) None
        else Some(LangFilterDef(
          field = str(lf.get("field")).getOrElse(sys.error("lang_filter missing field")),
          allowed = strSeq(lf.get("allowed")))),
      qualityFilter =
        if (!declared("quality_filter", qf)) None
        else Some(QualityFilterDef(
          field = str(qf.get("field")).getOrElse(sys.error("quality_filter missing field")),
          min = dbl(qf.get("min")).getOrElse(0.0))),
      classifierFilter =
        if (!declared("classifier_filter", cf)) None
        else Some(ClassifierFilterDef(
          idField = str(cf.get("id_field")).getOrElse(sys.error("classifier_filter missing id_field")),
          textField = str(cf.get("text_field")).getOrElse(sys.error("classifier_filter missing text_field")),
          weightsPath = str(cf.get("weights_path")).getOrElse(sys.error("classifier_filter missing weights_path")),
          weightsFormat = str(cf.get("weights_format")).getOrElse("parquet"),
          nBuckets = long(cf.get("n_buckets")).getOrElse(1024L).toInt,
          scale = dbl(cf.get("scale")).getOrElse(1000.0),
          bias = dbl(cf.get("bias")).getOrElse(0.0),
          min = dbl(cf.get("min")).getOrElse(0.5))),
      classifierTrain =
        if (!declared("classifier_train", ct)) None
        else Some(ClassifierTrainDef(
          idField = str(ct.get("id_field")).getOrElse(sys.error("classifier_train missing id_field")),
          textField = str(ct.get("text_field")).getOrElse(sys.error("classifier_train missing text_field")),
          posSource = str(ct.get("pos_source")).getOrElse(sys.error("classifier_train missing pos_source")),
          negSource = str(ct.get("neg_source")).getOrElse(sys.error("classifier_train missing neg_source")),
          srcField = str(ct.get("src_field")).getOrElse("source"),
          nBuckets = long(ct.get("n_buckets")).getOrElse(1024L).toInt,
          iters = long(ct.get("iters")).getOrElse(3L).toInt,
          lrDen = long(ct.get("lr_den")).getOrElse(4096L),
          min = dbl(ct.get("min")).getOrElse(0.5))),
      lmFilter =
        if (!declared("lm_filter", lm)) None
        else Some(LmFilterDef(
          idField = str(lm.get("id_field")).getOrElse(sys.error("lm_filter missing id_field")),
          textField = str(lm.get("text_field")).getOrElse(sys.error("lm_filter missing text_field")),
          srcField = str(lm.get("src_field")).getOrElse(sys.error("lm_filter missing src_field")),
          trainSource = str(lm.get("train_source")).getOrElse(sys.error("lm_filter missing train_source")),
          threshBits = long(lm.get("thresh_bits")).getOrElse(8L).toInt)),
      gopherFilter =
        if (!declared("gopher_filter", gf)) None
        else Some(GopherFilterDef(
          textField = str(gf.get("text_field")).getOrElse(sys.error("gopher_filter missing text_field")),
          minWords = long(gf.get("min_words")).getOrElse(50L),
          maxWords = long(gf.get("max_words")).getOrElse(100000L),
          minMeanWordLen = dbl(gf.get("min_mean_word_len")).getOrElse(3.0),
          maxMeanWordLen = dbl(gf.get("max_mean_word_len")).getOrElse(10.0),
          maxSymbolRatio = dbl(gf.get("max_symbol_ratio")).getOrElse(0.1),
          maxBulletFrac = dbl(gf.get("max_bullet_frac")).getOrElse(0.9),
          maxEllipsisFrac = dbl(gf.get("max_ellipsis_frac")).getOrElse(0.3),
          minAlphaFrac = dbl(gf.get("min_alpha_frac")).getOrElse(0.8),
          minStopwords = long(gf.get("min_stopwords")).getOrElse(2L).toInt)),
      c4Clean =
        if (!declared("c4_clean", cc)) None
        else Some(C4CleanDef(
          textField = str(cc.get("text_field")).getOrElse(sys.error("c4_clean missing text_field")),
          window = long(cc.get("window")).getOrElse(10L).toInt,
          minSegWords = long(cc.get("min_seg_words")).getOrElse(5L).toInt,
          minSegs = long(cc.get("min_segs")).getOrElse(3L).toInt,
          blacklist =
            if (cc.contains("blacklist")) strSeq(cc.get("blacklist"))
            else graft.operators.TextOps.C4Blacklist)),
      dsirSelect =
        if (!declared("dsir_select", ds)) None
        else Some(DsirSelectDef(
          idField = str(ds.get("id_field")).getOrElse(sys.error("dsir_select missing id_field")),
          textField = str(ds.get("text_field")).getOrElse(sys.error("dsir_select missing text_field")),
          targetPath = str(ds.get("target_path")).getOrElse(sys.error("dsir_select missing target_path")),
          targetFormat = str(ds.get("target_format")).getOrElse("parquet"),
          targetTextField = str(ds.get("target_text_field")),
          nBuckets = long(ds.get("n_buckets")).getOrElse(4096L).toInt,
          k = long(ds.get("k")).getOrElse(1000L).toInt)),
      repetitionFilter =
        if (!declared("repetition_filter", rf)) None
        else {
          val dTop = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
          val dDup = Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
            9 -> 0.11, 10 -> 0.10)
          Some(RepetitionFilterDef(
            textField = str(rf.get("text_field")).getOrElse(sys.error("repetition_filter missing text_field")),
            topThresholds = dTop.map { case (k, v) =>
              k -> dbl(rf.get(s"top_$k")).getOrElse(v) },
            dupThresholds = dDup.map { case (k, v) =>
              k -> dbl(rf.get(s"dup_$k")).getOrElse(v) }))
        },
      sample =
        if (!declared("sample", sa)) None
        else Some(SampleDef(
          idField = str(sa.get("id_field")).getOrElse(sys.error("sample missing id_field")),
          strataField = str(sa.get("strata_field")).getOrElse(sys.error("sample missing strata_field")),
          rates = tbl(sa.get("rates")).collect {
            case (k, v: Long) => k -> v.toDouble
            case (k, v: Double) => k -> v
          },
          defaultRate = dbl(sa.get("default_rate")).getOrElse(0.0))),
      epochPack =
        if (!declared("epoch_pack", epk)) None
        else Some(EpochPackDef(
          idField = str(epk.get("id_field")).getOrElse(sys.error("epoch_pack missing id_field")),
          textField = str(epk.get("text_field")).getOrElse(sys.error("epoch_pack missing text_field")),
          budget = long(epk.get("budget")).getOrElse(512L),
          nShards = long(epk.get("n_shards")).getOrElse(4L).toInt,
          salt = str(epk.get("salt")).getOrElse("epoch1"),
          mixField = str(epk.get("mix_field")),
          mixBudgetTokens = long(epk.get("mix_budget_tokens")).getOrElse(0L),
          temperature = dbl(epk.get("temperature")).getOrElse(2.0),
          mergesPath = str(epk.get("merges_path")),
          mergesFormat = str(epk.get("merges_format")).getOrElse("parquet"),
          trainMerges = long(epk.get("train_merges")).getOrElse(0L).toInt,
          layout = str(epk.get("layout")).getOrElse("shuffle"),
          diffField = str(epk.get("diff_field")))))
  }

  private def parseTransform(n: Map[String, Any]): TransformDef = {
    val ops = tbl(n.get("operations"))
    val enrich = tbl(n.get("data_enrichment"))
    val interT = tbl(n.get("intermediate"))
    parseCuration(n)(TransformDef(
      fieldMapping = strMap(n.get("field_mapping")),
      keepOnlyFields = strSeq(ops.get("keep_only_fields")),
      excludeFields = strSeq(ops.get("exclude_fields")),
      cleanText = bool(ops.get("clean_text")).getOrElse(false),
      normalizeFields = strSeq(ops.get("normalize_fields")),
      trimWhitespace = bool(ops.get("trim_whitespace")).getOrElse(false),
      removeHtmlTagsFields =
        if (bool(ops.get("remove_html_tags")).getOrElse(false)) Seq("*") else Nil,
      computedFields = strMap(enrich.get("computed_fields")),
      recordIndexOrderBy = strSeq(n.get("record_index_order_by")),
      enrichment = strMap(enrich.get("lookup_data")),
      lookup = None,
      mergeWithPrevious = bool(n.get("merge_with_previous")).getOrElse(false),
      mergeKey = str(n.get("merge_key")).getOrElse("id"),
      addProcessedFlags = bool(n.get("add_processed_flags")).getOrElse(true),
      intermediate =
        if (interT.nonEmpty) Some(IntermediateDef(
          conditions = tbl(interT.get("conditions")),
          minConditions = tbl(interT.get("min_conditions")).collect {
            case (k, v: Long) => k -> v.toDouble
            case (k, v: Double) => k -> v
          },
          sharedKey = str(interT.get("shared_key")).getOrElse("")))
        else None,
      validation = {
        val v = tbl(n.get("validation"))
        if (v.nonEmpty) Some(ValidationDef(
          requiredFields = strSeq(v.get("required_fields")),
          minRecords = long(v.get("min_records")),
          maxRecords = long(v.get("max_records"))))
        else None
      }))
  }

  private def parseLoad(n: Map[String, Any]): LoadDef = {
    val comp = tbl(n.get("compression"))
    val zip = bool(comp.get("enabled")).getOrElse(false)
    LoadDef(
      outputPath = str(n.get("output_path")).getOrElse(sys.error("load missing output_path")),
      formats = strSeq(n.get("output_formats")) ++ strSeq(n.get("formats")) match {
        case Nil => Seq("csv"); case xs => xs
      },
      // the reference names the archive via compression.filename; graft's
      // zip target is "<pattern>.zip", so the stripped filename wins
      filenamePattern =
        str(comp.get("filename")).filter(_ => zip).map(_.stripSuffix(".zip"))
          .orElse(str(n.get("filename_pattern")))
          .getOrElse("{pipeline_name}_output"),
      zip = zip,
      includeMetadata = bool(comp.get("include_metadata")).getOrElse(false),
      filenames = strMap(n.get("filenames")),
      partitionBy = strSeq(n.get("partition_by")),
      // reference parity: the reference writes one file per format
      singleFile = bool(n.get("single_file")).getOrElse(true),
      singleFileMaxRows = long(n.get("single_file_max_rows")).getOrElse(1000000L),
      mode = str(n.get("mode")).getOrElse("overwrite"),
      maxRecordsPerFile = long(n.get("max_records_per_file")).getOrElse(0L),
      appendToSequence = bool(n.get("append_to_sequence")).getOrElse(false))
  }

  private def parseConditions(n: Map[String, Any], enabled: Boolean): ConditionsDef = {
    val rc = tbl(n.get("when_records_count"))
    ConditionsDef(
      enabled = enabled && bool(n.get("enabled")).getOrElse(true),
      whenPreviousSucceeded = bool(n.get("when_previous_succeeded")).getOrElse(false),
      whenRecordsCount =
        if (rc.nonEmpty) Some(RecordsCountCond(
          min = long(rc.get("min")), max = long(rc.get("max")),
          fromPipeline = str(rc.get("from_pipeline"))))
        else None,
      whenSharedData = tbl(n.get("when_shared_data")),
      skipIfEmpty = bool(n.get("skip_if_empty")).getOrElse(false))
  }

  /** A `{param}` endpoint placeholder (T5 fan-out marker) that is not a
    * `{{shared}}` template. */
  private def hasSingleBraceParam(endpoint: String): Boolean =
    """(?<!\{)\{[A-Za-z0-9_.]+\}(?!\})""".r.findFirstIn(endpoint).nonEmpty

  // ----- typed readers over the Toml value universe -----
  private def tbl(v: Option[Any]): Map[String, Any] = v match {
    case Some(m: Map[String, Any] @unchecked) => m
    case _ => Map.empty
  }
  private def arr(v: Option[Any]): Vector[Any] = v match {
    case Some(a: Vector[Any] @unchecked) => a
    case _ => Vector.empty
  }
  private def str(v: Option[Any]): Option[String] =
    v.collect { case s: String => s }
  private def long(v: Option[Any]): Option[Long] =
    v.collect {
      case l: Long => l
      // TOML floats only coerce when integral — k = 8.9 must fail loud,
      // not silently truncate to 8
      case d: Double if d.isWhole => d.toLong
      case d: Double => sys.error(s"expected an integer value, got $d")
    }
  private def dbl(v: Option[Any]): Option[Double] =
    v.collect { case d: Double => d; case l: Long => l.toDouble }
  private def bool(v: Option[Any]): Option[Boolean] =
    v.collect { case b: Boolean => b }
  private def strSeq(v: Option[Any]): Seq[String] =
    arr(v).collect { case s: String => s }
  private def strMap(v: Option[Any]): Map[String, String] =
    tbl(v).map { case (k, x) => k -> String.valueOf(x) }
}
