"""End-to-end benchmark of the openEO service: seeded client workloads
driven through ``service.create_app``, with engine-independent output
verification and an optional traced run that splits each job by layer.

Run from the repository root: ``python3 perfbench/run.py --workload
<name> --seed <n> --seconds <s> --trace <0|1>``. See README.md here.
"""
