# One-command round-close evidence (r4 verdict task #9): chains the
# driver-identical DuckDB oracle gate, the full test suite, and a
# quiet-run bench into a single artifact under gate_out/.
#
#   make gate            # sf0.01 oracle sweep + pytest + bench (sf0.1)
#   make gate SF=sf0.1   # oracle sweep at a different scale
#   make oracles         # just the oracle sweep
#   make test            # just pytest
#   make bench           # just the headline bench JSON line
#   make selftest        # perfbench self-test (not part of gate)
#   make perfbench       # one untraced run per benchmark workload (not part of gate)
#   make perfbench-trace # one traced seed-31 run per workload: correct, failed and its job counts (not part of gate)
#   make graph-parity    # graph builder parity, plan and exact span-cap fuzz tests + the graph-consuming oracle queries (not part of gate)
#   make canon-parity    # canonicalization tests + its four oracle queries (not part of gate)
#   make extract-parity  # extraction, linking and plan tests + the four extraction oracle queries (not part of gate)
#   make media-parity    # codec reach guard + codec tests + the 11 mm_* oracle queries (not part of gate)
#   make kg-parity       # document-KG query and canonicalize tests + every doc_kg oracle query (not part of gate)
#   make pipeline-parity # ledger, job-composition, golden, metrics and package-reach tests (not part of gate)
#   make reach           # the package-reach AST guards: definitions and defaulted parameters, in seconds (not part of gate)

SF ?= sf0.01
BENCH_SF ?= /root/testdata/sf0.1
OUT := gate_out

# pipefail so `cmd | tee log` fails when cmd fails — without it a
# pytest collection error (exit 2, last line "N errors", no word
# "failed") or a bench.py crash would still leave a green gate
SHELL := /bin/bash
.SHELLFLAGS := -o pipefail -ec

.PHONY: gate oracles test bench selftest perfbench perfbench-trace graph-parity canon-parity extract-parity media-parity kg-parity pipeline-parity reach

oracles:
	@mkdir -p $(OUT)
	python scripts/check_oracles.py /root/testdata/$(SF) 2>&1 | tee $(OUT)/oracles_$(SF).log
	@grep -q "all oracle checks passed" $(OUT)/oracles_$(SF).log

test:
	@mkdir -p $(OUT)
	python -m pytest tests/ -q 2>&1 | tee $(OUT)/pytest.log
	@tail -1 $(OUT)/pytest.log | grep -vq "failed"

bench:
	@mkdir -p $(OUT)
	SPARK_GRAFT_SF_DIR=$(BENCH_SF) python bench.py 2>$(OUT)/bench.err | tee $(OUT)/bench.json
	@python -c "import json; json.load(open('$(OUT)/bench.json'))"

selftest:
	python3 perfbench/selftest.py

# fails unless each workload's last output line reports "correct": true
perfbench:
	@mkdir -p $(OUT)
	for w in docs_build transcripts_build; do \
	  python3 perfbench/run.py --workload $$w --seed 1 --seconds 5 --trace 0 | tee $(OUT)/perfbench_$$w.log; \
	  tail -1 $(OUT)/perfbench_$$w.log | grep -q '"correct": true'; \
	done

# per-layer job counts of one traced seed-31 run of each workload; fails
# unless the run reports "correct": true
perfbench-trace:
	@mkdir -p $(OUT)
	for w in docs_build transcripts_build; do \
	  python3 perfbench/run.py --workload $$w --seed 31 --seconds 1 --trace 1 > $(OUT)/perfbench_trace_$$w.log; \
	  tail -1 $(OUT)/perfbench_trace_$$w.log | python3 -c 'import json, sys; \
	    d = json.load(sys.stdin); \
	    jobs = [k + "=" + format(v["value"], "g") for k, v in d["metrics"].items() if k.endswith("jobs")]; \
	    print(sys.argv[1], "correct", d["correct"], "failed", d["failed"], *jobs); \
	    sys.exit(not d["correct"])' $$w; \
	done

# quick pre-check for a change to the graph builder or the bag's routes
graph-parity:
	python -m pytest -q tests/test_graph_sql.py tests/test_plans.py tests/test_fuzz_text.py
	python scripts/check_oracles.py /root/testdata/sf0.01 kg_supporting kg_supporting_anchored kg_supporting_confident kg_inconsistent kg_missing kg_enrich_facts kg_triples_by_relation kg_entity_distances kg_entity_distances_anchored kg_entity_distances_batch

# quick pre-check for a change to canonicalization or connected components
canon-parity:
	python -m pytest -q tests/test_canonicalize.py
	python scripts/check_oracles.py /root/testdata/sf0.01 kg_canonical_clusters kg_canonical_triples dedup_neardup_clusters dedup_keep_list

# quick pre-check for a change to the extraction kernel or its three bodies
extract-parity:
	python -m pytest -q tests/test_extract.py tests/test_fuzz_text.py tests/test_golden.py tests/test_linking_enrich.py tests/test_plans.py
	python scripts/check_oracles.py /root/testdata/sf0.01 kg_mentions kg_relations kg_links kg_triples_by_relation

# quick pre-check for a change to a media codec or an mm_* query
media-parity:
	python -m pytest -q tests/test_media_reach.py tests/test_multimodal.py tests/test_jpeg.py tests/test_new_containers.py tests/test_tiff.py tests/test_webp.py tests/test_flac.py
	python scripts/check_oracles.py /root/testdata/sf0.01 mm_media_meta mm_media_sniff mm_media_features mm_media_dedup mm_phash_groups mm_audio_vad mm_video_shots mm_frame_schedule mm_media_decode mm_audio_features mm_video_frames

# quick pre-check for a change to queries/doc_kg.py or operators/graph.symmetrize
kg-parity:
	python -m pytest -q tests/test_graph_quality.py tests/test_provenance.py tests/test_kg_export.py tests/test_dedup_guard.py tests/test_plans.py tests/test_canonicalize.py
	python scripts/check_oracles.py /root/testdata/sf0.01 $$(python -c "from dstlr_spark.queries.doc_kg import QUERIES; print(*QUERIES)")

# quick pre-check for a change to plans/pipeline.py, plans/ledger.py or a job
pipeline-parity:
	python -m pytest -q tests/test_ledger.py tests/test_jobs_e2e.py tests/test_stage_jobs.py tests/test_golden.py tests/test_metrics.py tests/test_package_reach.py

# quick pre-check after changing a signature: pure AST, no Spark
reach:
	python -m pytest -q tests/test_package_reach.py

gate: oracles test bench
	@echo "gate complete: $(OUT)/oracles_$(SF).log $(OUT)/pytest.log $(OUT)/bench.json"
