.PHONY: test oracle oracle-fast oracle-extract bench bench-pairs smoke

# tier-1: the ROADMAP command (every test runs; Spark sized to the host)
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

oracle:
	python tools/check_oracle.py

oracle-fast:
	python tools/check_oracle.py /root/testdata/sf0.001

# the gate queries that run the extraction kernel (toggles_battery's
# `sent` branch runs sentence mode)
oracle-extract:
	SPARK_GRAFT_ONLY=extract_turns,toggles_battery,a6_extraction_rollup python tools/check_oracle.py

# the benchmark of record (BENCHMARK.json): both workloads, untraced, seed 1
bench:
	python3 perfbench/run.py --workload extract_fused --seed 1 --seconds 15 --trace 0
	python3 perfbench/run.py --workload extract_sentences --seed 1 --seconds 15 --trace 0

# BASE against the working tree: alternating perfbench pairs per workload
# on distinct seeds, in copies under a temp dir (or SCRATCH=dir)
bench-pairs:
	@test -n "$(BASE)" || { echo "usage: make bench-pairs BASE=<rev> [PAIRS=10] [SCRATCH=dir]"; exit 2; }
	python3 tools/bench_pairs.py --base $(BASE) --pairs $(or $(PAIRS),10) $(if $(SCRATCH),--scratch $(SCRATCH))

# Spark on half the host's cores (local[N] keeps about 2N threads runnable)
smoke:
	python -c "import os, sys; sys.path.insert(0,'.'); \
	import __spark_entry__ as m; \
	from docling_translate_spark.plans.session import build_session; \
	n = max(1, len(os.sched_getaffinity(0)) // 2); \
	s = build_session(master=f'local[{n}]'); s.sparkContext.setLogLevel('ERROR'); \
	print('entry rows:', len(m.entry(s).collect())); s.stop()"
