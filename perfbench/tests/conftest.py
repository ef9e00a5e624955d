import sys
from pathlib import Path

# the checkout root, so that ``import perfbench`` works from any cwd
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
