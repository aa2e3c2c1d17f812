"""Run a command; print its exit code and peak RSS (getrusage ru_maxrss of the children) to stderr."""
import resource, subprocess, sys
rc = subprocess.call(sys.argv[1:])
print(f"[peak] exit {rc} maxrss_mb {resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024:.1f}", file=sys.stderr)
sys.exit(rc)
