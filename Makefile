.PHONY: test oracle bench plans smoke

# tier-1: the ROADMAP command (every test runs; Spark sized to the host)
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

oracle:
	python tools/check_oracle.py

oracle-fast:
	python tools/check_oracle.py /root/testdata/sf0.001

bench:
	python bench.py

plans:
	python tools/gen_plans.py

smoke:
	python -c "import sys; sys.path.insert(0,'.'); \
	import __spark_entry__ as m; \
	from docling_translate_spark.plans.session import build_session; \
	s = build_session(master='local[8]'); s.sparkContext.setLogLevel('ERROR'); \
	print('entry rows:', len(m.entry(s).collect())); s.stop()"
