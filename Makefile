.PHONY: test dist bench perfbench validate scaling plans

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
		SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q \
		--continue-on-collection-errors -p no:cacheprovider

dist:
	mkdir -p dist
	cd . && zip -qr dist/nhao_engine.zip norsk_historisk_avis_ocr_spark \
		-x '*__pycache__*'

bench:
	python bench.py

perfbench:
	for w in extract_fresh extract_resume scan_backfill; do \
		python3 perfbench/run.py --workload $$w --seed 1 --seconds 2 \
			|| exit 1; \
	done

validate:
	python tools/validate_contract.py

scaling:
	python tools/bench_scaling.py /root/testdata/sf0.1 32

plans:
	python tools/plans.py
