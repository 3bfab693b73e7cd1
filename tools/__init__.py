"""Dev tools (plan audit, scaling benchmarks); package init so tests
can import shared helpers (e.g. the global-window detector in
audit_plans) and bench_scaling_inc can import bench_scaling's."""
