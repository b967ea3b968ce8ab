.PHONY: test dist bench perfbench validate scaling

test:
	python -m pytest tests/ -x -q

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
