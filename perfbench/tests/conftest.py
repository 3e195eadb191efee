import sys
from pathlib import Path

# the benchmark's modules import each other by bare name, as run.py and
# worker.py do with the perfbench directory on sys.path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
