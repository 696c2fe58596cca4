import sys
from pathlib import Path

# the repository root, so `perfbench` and the program import by name
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
