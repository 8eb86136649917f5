import os
import sys

# the benchmark package and the library both live at the checkout root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
