"""Simplified↔Traditional Chinese conversion (SURVEY.md §2.8 F8).

The reference uses OpenCC (translate.py:17-19,72-97) — a dictionary-based,
deterministic converter.  OpenCC is absent here, so the engine ships a
two-stage conversion built only from public-knowledge character/word
equivalences:

1. **character stage** — a 979-pair table of *unambiguous* simplified →
   traditional characters (台→臺, 县→縣, …);
2. **word stage** — a word-fixup table applied AFTER the character pass,
   in order, correcting the cases where the character default is wrong
   for a specific word (OpenCC resolves these with its word
   dictionaries): 頭[發→髮], 皇[後→后], 乾/幹 splits of 干, 麵 splits of
   面, 歷/曆 splits of 历, plus s2twp-style Taiwan vocabulary
   (軟體/資訊/計程車…).

Each conversion has two executable forms: the Python functions
``_py_s2t``/``_py_t2s``, which Spark runs as Arrow kernels
(:func:`s2t_t2s_udf`, :func:`s2t_udf`), and the DuckDB SQL text
:func:`s2t_sql`/:func:`t2s_sql`, which the oracles run.

Genuinely context-dependent single characters with no dominant default
(复→復/複, 钟→鐘/鍾, 范→範/姓范…) are deliberately unmapped — the
reference's own cached outputs for those are *tables*, which the engine
joins instead (SURVEY.md §2.1 S7).

Predicate semantics follow the reference exactly (translate.py:52-97):
``is_chinese`` = whole string is Han characters or '-'; traditional =
is_chinese ∧ s2t-fixpoint; simplified = is_chinese ∧ t2s-fixpoint (callers
compose the last two from one :func:`s2t_t2s_udf` call).
"""

from __future__ import annotations

from pyspark.sql import Column

#: common simplified → traditional character pairs (1:1, same order; unique
#: source chars, no identity mappings, no ambiguous targets)
SIMPLIFIED = (
    "台湾县园区镇乡庄岛屿东龙凤桥头沟汉济宁广严冈养爱国学门马鸟云电气务书体当发后万与丑专业丛"
    "们来时说对开关见经长车话语读写饭鱼鸡线纸组红绿蓝黄风飞机场热买卖钱银铁点儿阳阴运动静声"
    "听视觉实现变转边远进过还这记忆议论证规简单杂条张陈刘杨赵吴孙罗郑谢许邓冯韩萧蒋贾叶谭邹"
    "陆顾汤岭滩庙宫号楼层"
    # round-3 expansion (VERDICT.md round-2 item 2): more unambiguous pairs —
    # each source has ONE dominant traditional form; context-dependent chars
    # (复钟干面里只发后万… classes) stay word-level or unmapped
    "贝页财购贵货质资费贸贤贺赏赛赠败贴贷贫贪贯贼贞负贡"
    "钢铜铝锡锌锅链锁错锋镜针钓录钥"
    "问间闻闸阀阁阔闯闪队阵阶际"
    "请课谁调谈译试诗诚误训讯讲访设诉词诊识谱谊谋谎谜谣谦谬谴计详"
    "饮饱饼馆饿纪约纯纳纵纷纹织绍给绝统继绩维绳综缓编缘缩缝绸绣级练细终结绕绘络缴纠"
    "驾骑驶驻驰骄验骗驴骂驼驱鲁鲜鲸鲍鸭鸦鹅鸽鹤鹰鸣鹏"
    "医压厂厅厉励战兽党尝击拟扩扰抚拥择挂挥损换据掷搁摆摄摊撑拦拣担抢护报"
    "宝审宪届岁峡帅师帐带帮币庆库应废异弃弹归彻怀怜忧态总恋恳悬惊惧惨惯愿懒"
    "无旧显晓暂术权枪柜标栏树样梦检栈欢欧残毁氢泪泽洁浅浇浊测浓润涨渊渐渔湿溃滚满滥滤滨"
    "灭灯灵炼烂烛烦烧爷牺犹狱猎猫献环玛琼画畅疗疮疯痒皱盏盐监盖盘睁矿码砖硕确碍礼祸"
    "离种积称笔筑筹篮类粮罚罢联聋职肃肠肤肿胀胁脉脑脸胶舰舱艰艺节苍苏苹荐荡荣药莲萝萤营兰"
    "虏虑虽虾蚀蚁蚕蜡蝇蝉衔补衬装裤观览触誉"
    "轨轮软轰轴轻载辅辆辈辉辞辩辫辽达迁迈违连迟递逊选逻遗邮邻酱释"
    "雏雾韦韧顶项顺顽顿颁颂预领颇颈频颖题额颜飘魇"
    "麦齐齿龄龚龟乌鸿习争亏亚产亲亿仅从仓仪价众优会伞伟传伤伦伪侠侣侦侧侨俭债倾偿储"
    "军农冻净凑减刚创删剂剑剧劝劳势勋华协卢卫厌双吓吕吗吨启员响哑哗唤啸喷嘱团围图圆圣"
    "坏块坚坛坝坟坠垫墙壮壶处备夹夺奋奖妆妇妈娱婴孪宽寻导寿尔尘尧尴内个戏"
    # round-3 expansion: 312 more unambiguous pairs (incl. Taiwan-geography
    # chars 壢/嶺-class, metallurgy/chemistry 矽/鹼, full 言/糸/金/馬/鳥
    # radical series).  Ambiguous chars (干面里只几斗卜占布舍杰姜淀卤伙欲
    # 锈胡咨症梁并汇赞签须适迹…) stay word-level or unmapped.
    "两丢为举义乐乔乱侄俩兑册决况凉凭凯则别办劲匀厕厦叙叠叹呜呛哟垄垒堕够娄娇婶宠宾寝"
    "将屉屡属岂岖岗崭巩帜并弥弯强彦径恒恶愤慑户执扫扬抛抠拢挚挣挤捞敌数斋断晒晕杀极构"
    "枣桩榄横樱档桨钦殴毕毙汇没泞泼洒浆浑涛炉焕牵狈狞独狭狮瘫皑瞒矫础秆筛签箩篓粤纤纱"
    "纲绑绒绞绪续绮绰绵绷绽缀缄缅缆缔缚缠网羡耸聂聪肾胆胜腊腾舆芦茎莱蔷蕴虫蛮蜗袄裆誊"
    "订认讨让讳讶讼讽诀评诅诈诞诡询该诧诱诲诵诸诺诽谅谍谐谓谚谤谨责账贩贬贮赋赌赐赔赖"
    "赚赞赢趋跃践踊蹒躏轧轩轿辑输辖辗迹适酝钉钙钠钧钩钮铃铅铭铸铺销锐锚锣锤锦键锯镑镖"
    "镰闭闰闷闹阅阐陇陕险随隐隶难韵顷颅颗颠颤饰饲饵馁馅驭驮驯驳驹骆骇骚骡骤鲤鲨鳄鸥鹃"
    "鹊鹦鹭硅莺坜须碱盗垦矾钾钝锄滞涩浒泻潇澜痪痈瘾笼筝篱耻肮胧脓蓟蔹"
    # round-4: gaps surfaced by the i18n-iso-countries zh vs zh-tw audit
    # (tests/test_properties.py TestCountryPairCorpus) — all unambiguous 1:1
    "萨奥兹纽脱挝"
)
TRADITIONAL = (
    "臺灣縣園區鎮鄉莊島嶼東龍鳳橋頭溝漢濟寧廣嚴岡養愛國學門馬鳥雲電氣務書體當發後萬與醜專業叢"
    "們來時說對開關見經長車話語讀寫飯魚雞線紙組紅綠藍黃風飛機場熱買賣錢銀鐵點兒陽陰運動靜聲"
    "聽視覺實現變轉邊遠進過還這記憶議論證規簡單雜條張陳劉楊趙吳孫羅鄭謝許鄧馮韓蕭蔣賈葉譚鄒"
    "陸顧湯嶺灘廟宮號樓層"
    "貝頁財購貴貨質資費貿賢賀賞賽贈敗貼貸貧貪貫賊貞負貢"
    "鋼銅鋁錫鋅鍋鏈鎖錯鋒鏡針釣錄鑰"
    "問間聞閘閥閣闊闖閃隊陣階際"
    "請課誰調談譯試詩誠誤訓訊講訪設訴詞診識譜誼謀謊謎謠謙謬譴計詳"
    "飲飽餅館餓紀約純納縱紛紋織紹給絕統繼績維繩綜緩編緣縮縫綢繡級練細終結繞繪絡繳糾"
    "駕騎駛駐馳驕驗騙驢罵駝驅魯鮮鯨鮑鴨鴉鵝鴿鶴鷹鳴鵬"
    "醫壓廠廳厲勵戰獸黨嘗擊擬擴擾撫擁擇掛揮損換據擲擱擺攝攤撐攔揀擔搶護報"
    "寶審憲屆歲峽帥師帳帶幫幣慶庫應廢異棄彈歸徹懷憐憂態總戀懇懸驚懼慘慣願懶"
    "無舊顯曉暫術權槍櫃標欄樹樣夢檢棧歡歐殘毀氫淚澤潔淺澆濁測濃潤漲淵漸漁濕潰滾滿濫濾濱"
    "滅燈靈煉爛燭煩燒爺犧猶獄獵貓獻環瑪瓊畫暢療瘡瘋癢皺盞鹽監蓋盤睜礦碼磚碩確礙禮禍"
    "離種積稱筆築籌籃類糧罰罷聯聾職肅腸膚腫脹脅脈腦臉膠艦艙艱藝節蒼蘇蘋薦蕩榮藥蓮蘿螢營蘭"
    "虜慮雖蝦蝕蟻蠶蠟蠅蟬銜補襯裝褲觀覽觸譽"
    "軌輪軟轟軸輕載輔輛輩輝辭辯辮遼達遷邁違連遲遞遜選邏遺郵鄰醬釋"
    "雛霧韋韌頂項順頑頓頒頌預領頗頸頻穎題額顏飄魘"
    "麥齊齒齡龔龜烏鴻習爭虧亞產親億僅從倉儀價眾優會傘偉傳傷倫偽俠侶偵側僑儉債傾償儲"
    "軍農凍淨湊減剛創刪劑劍劇勸勞勢勳華協盧衛厭雙嚇呂嗎噸啟員響啞嘩喚嘯噴囑團圍圖圓聖"
    "壞塊堅壇壩墳墜墊牆壯壺處備夾奪奮獎妝婦媽娛嬰孿寬尋導壽爾塵堯尷內個戲"
    "兩丟為舉義樂喬亂姪倆兌冊決況涼憑凱則別辦勁勻廁廈敘疊嘆嗚嗆喲壟壘墮夠婁嬌嬸寵賓寢"
    "將屜屢屬豈嶇崗嶄鞏幟並彌彎強彥徑恆惡憤懾戶執掃揚拋摳攏摯掙擠撈敵數齋斷曬暈殺極構"
    "棗樁欖橫櫻檔槳欽毆畢斃匯沒濘潑灑漿渾濤爐煥牽狽獰獨狹獅癱皚瞞矯礎稈篩簽籮簍粵纖紗"
    "綱綁絨絞緒續綺綽綿繃綻綴緘緬纜締縛纏網羨聳聶聰腎膽勝臘騰輿蘆莖萊薔蘊蟲蠻蝸襖襠謄"
    "訂認討讓諱訝訟諷訣評詛詐誕詭詢該詫誘誨誦諸諾誹諒諜諧謂諺謗謹責賬販貶貯賦賭賜賠賴"
    "賺贊贏趨躍踐踴蹣躪軋軒轎輯輸轄輾跡適醞釘鈣鈉鈞鉤鈕鈴鉛銘鑄鋪銷銳錨鑼錘錦鍵鋸鎊鏢"
    "鐮閉閏悶鬧閱闡隴陝險隨隱隸難韻頃顱顆顛顫飾飼餌餒餡馭馱馴駁駒駱駭騷騾驟鯉鯊鱷鷗鵑"
    "鵲鸚鷺矽鶯壢須鹼盜墾礬鉀鈍鋤滯澀滸瀉瀟瀾瘓癰癮籠箏籬恥骯朧膿薊蘞"
    "薩奧茲紐脫撾"
)

assert len(SIMPLIFIED) == len(TRADITIONAL), \
    (len(SIMPLIFIED), len(TRADITIONAL))
assert len(set(SIMPLIFIED)) == len(SIMPLIFIED), \
    [c for c in set(SIMPLIFIED) if SIMPLIFIED.count(c) > 1]
assert len(set(TRADITIONAL)) == len(TRADITIONAL), \
    [c for c in set(TRADITIONAL) if TRADITIONAL.count(c) > 1]
assert not set(SIMPLIFIED) & set(TRADITIONAL), \
    set(SIMPLIFIED) & set(TRADITIONAL)
assert all(s != t for s, t in zip(SIMPLIFIED, TRADITIONAL))

#: word-level fixups applied AFTER the character pass, longest first
#: (src = what the character pass produced, dst = the correct word).
#: Each source must be reachable (its chars are post-character-stage), and
#: each target must be a fixpoint of the character stage (no re-mapping).
S2T_WORD_FIXUPS: list[tuple[str, str]] = [
    # 發 vs 髮 (hair words)
    ("頭發", "頭髮"), ("理發", "理髮"), ("毛發", "毛髮"), ("假發", "假髮"),
    ("發型", "髮型"), ("發廊", "髮廊"), ("發夾", "髮夾"),
    # 後 vs 后 (empress/queen words)
    ("皇後", "皇后"), ("太後", "太后"), ("影後", "影后"), ("天後", "天后"),
    ("王後", "王后"),
    # 干 → 乾 / 幹 (character stage leaves 干 unmapped)
    ("干燥", "乾燥"), ("干淨", "乾淨"), ("干杯", "乾杯"), ("餅干", "餅乾"),
    ("干貝", "乾貝"), ("干旱", "乾旱"), ("干枯", "乾枯"), ("干洗", "乾洗"),
    ("干糧", "乾糧"), ("豆干", "豆乾"), ("干脆", "乾脆"), ("干草", "乾草"),
    ("干部", "幹部"), ("能干", "能幹"), ("才干", "才幹"), ("干線", "幹線"),
    ("干道", "幹道"), ("樹干", "樹幹"), ("骨干", "骨幹"), ("干活", "幹活"),
    ("干事", "幹事"), ("主干", "主幹"),
    # 面 → 麵 (food words; 面/face is the unmapped default)
    ("面包", "麵包"), ("面條", "麵條"), ("面粉", "麵粉"), ("泡面", "泡麵"),
    ("拉面", "拉麵"), ("炒面", "炒麵"), ("湯面", "湯麵"), ("面館", "麵館"),
    ("面攤", "麵攤"), ("掛面", "掛麵"), ("面食", "麵食"),
    # 里 → 裡 (location words; bare 里/unit stays — reference translate.py
    # even maps 裏→里 for village names, see fix_li_names)
    ("這里", "這裡"), ("那里", "那裡"), ("哪里", "哪裡"), ("里面", "裡面"),
    ("里頭", "裡頭"), ("里邊", "裡邊"),
    # 制 → 製 (manufacture words)
    ("制造", "製造"), ("制作", "製作"), ("制品", "製品"), ("制藥", "製藥"),
    ("制成", "製成"), ("錄制", "錄製"), ("繪制", "繪製"), ("制圖", "製圖"),
    # 钟 → 鐘 (timepieces; 鍾 the surname/endearment stays unmapped)
    ("钟表", "鐘錶"), ("時钟", "時鐘"), ("分钟", "分鐘"), ("钟樓", "鐘樓"),
    ("钟聲", "鐘聲"), ("钟頭", "鐘頭"),
    # 复 → 復 (again/restore) vs 複 (duplicate/compound) vs 覆 (reply)
    ("复習", "復習"), ("复原", "復原"), ("复活", "復活"), ("复仇", "復仇"),
    ("复發", "復發"), ("修复", "修復"), ("康复", "康復"), ("恢复", "恢復"),
    ("報复", "報復"), ("复雜", "複雜"), ("复制", "複製"), ("复印", "複印"),
    ("复數", "複數"), ("重复", "重複"), ("反复", "反覆"), ("答复", "答覆"),
    ("回复", "回覆"),
    # 范 → 範 (pattern/scope; the surname 范 stays)
    ("范圍", "範圍"), ("模范", "模範"), ("示范", "示範"), ("規范", "規範"),
    ("師范", "師範"), ("防范", "防範"),
    # 松 → 鬆 (loose; the pine 松 stays)
    ("放松", "放鬆"), ("輕松", "輕鬆"), ("松懈", "鬆懈"), ("松散", "鬆散"),
    ("寬松", "寬鬆"), ("松開", "鬆開"),
    # 谷 → 穀 (grain; the valley 谷 stays)
    ("稻谷", "稻穀"), ("谷物", "穀物"), ("五谷", "五穀"),
    # 准 → 準 (standard/accurate; 批准-class approval 准 stays)
    ("標准", "標準"), ("准備", "準備"), ("准確", "準確"), ("准時", "準時"),
    ("水准", "水準"), ("精准", "精準"),
    # 历 → 歷 (history) vs 曆 (calendar)
    ("历史", "歷史"), ("历程", "歷程"), ("經历", "經歷"), ("學历", "學歷"),
    ("历代", "歷代"), ("历屆", "歷屆"), ("历年", "歷年"), ("日历", "日曆"),
    ("農历", "農曆"), ("历法", "曆法"),
    # 钻 → 鑽, 表 → 錶 (watch), 冲 → 衝 / 沖
    ("钻石", "鑽石"), ("钻研", "鑽研"), ("手表", "手錶"), ("腕表", "腕錶"),
    ("冲突", "衝突"), ("冲擊", "衝擊"), ("冲動", "衝動"), ("緩冲", "緩衝"),
    ("冲浪", "衝浪"), ("冲洗", "沖洗"), ("冲泡", "沖泡"),
    # 获 → 獲 (obtain) vs 穫 (harvest)
    ("获得", "獲得"), ("获獎", "獲獎"), ("捕获", "捕獲"), ("收获", "收穫"),
    ("榮获", "榮獲"),
    # 尽 → 盡 / 儘
    ("尽量", "儘量"), ("尽管", "儘管"), ("尽力", "盡力"), ("尽頭", "盡頭"),
    ("尽情", "盡情"), ("詳尽", "詳盡"),
    # 脏 → 臟 (organ) vs 髒 (dirty)
    ("心脏", "心臟"), ("肝脏", "肝臟"), ("內脏", "內臟"), ("脏亂", "髒亂"),
    ("骯脏", "骯髒"),  # 肮→骯 is now char-mapped; the source is post-char
    # 志 → 誌 (record), 致 → 緻, 周 → 週 (cycle)
    ("雜志", "雜誌"), ("標志", "標誌"), ("日志", "日誌"),
    ("細致", "細緻"), ("精致", "精緻"),
    ("周末", "週末"), ("周年", "週年"), ("周期", "週期"), ("周刊", "週刊"),
    # 游 → 遊 (travel; swimming 游 stays)
    ("旅游", "旅遊"), ("游行", "遊行"), ("游戲", "遊戲"), ("游樂", "遊樂"),
    ("游客", "遊客"), ("導游", "導遊"), ("游覽", "遊覽"),
    # 向 → 嚮, 余 → 餘 (surplus; the surname 余 stays)
    ("向導", "嚮導"), ("向往", "嚮往"),
    ("多余", "多餘"), ("其余", "其餘"), ("剩余", "剩餘"), ("業余", "業餘"),
    ("余額", "餘額"), ("余地", "餘地"),
    # 郁 → 鬱, 征 → 徵 (levy/sign; the march 征 stays)
    ("憂郁", "憂鬱"), ("郁悶", "鬱悶"), ("抑郁", "抑鬱"),
    ("特征", "特徵"), ("征求", "徵求"), ("征兆", "徵兆"), ("象征", "象徵"),
    ("征收", "徵收"), ("征信", "徵信"), ("應征", "應徵"),
    # 系 → 係 / 繫, 采 → 採, 划 → 劃 (plan; rowing 划 stays)
    ("關系", "關係"), ("聯系", "聯繫"),
    ("采用", "採用"), ("采訪", "採訪"), ("采購", "採購"), ("采集", "採集"),
    ("采取", "採取"), ("采礦", "採礦"), ("開采", "開採"),
    ("計划", "計劃"), ("規划", "規劃"), ("策划", "策劃"), ("划分", "劃分"),
    # misc high-frequency pairs
    ("夸張", "誇張"), ("夸獎", "誇獎"), ("咸魚", "鹹魚"),
    ("几乎", "幾乎"), ("几個", "幾個"), ("几次", "幾次"), ("几十", "幾十"),
    ("几百", "幾百"), ("几千", "幾千"), ("几萬", "幾萬"), ("好几", "好幾"),
    ("几天", "幾天"), ("几年", "幾年"), ("几種", "幾種"),
    # s2twp-class regional vocabulary (reference uses OpenCC s2twp,
    # translate.py:17-19 — Taiwan-standard terms, length-preserving subset)
    ("軟件", "軟體"), ("硬件", "硬體"), ("信息", "資訊"), ("打印", "列印"),
    ("視頻", "影片"), ("激光", "雷射"), ("鼠標", "滑鼠"),
    ("出租車", "計程車"),
    # ---- round-3 expansion (VERDICT.md round-2 "What's missing" item 1) ----
    # 并→並 is the char default; merge words take 併
    ("合並", "合併"), ("吞並", "吞併"), ("兼並", "兼併"), ("歸並", "歸併"),
    ("並購", "併購"), ("並發症", "併發症"),
    # 汇→匯 default; collection words take 彙
    ("詞匯", "詞彙"), ("匯總", "彙總"), ("匯整", "彙整"), ("匯編", "彙編"),
    # 赞→贊 default; praise words take 讚
    ("稱贊", "稱讚"), ("贊美", "讚美"), ("贊揚", "讚揚"), ("贊嘆", "讚嘆"),
    ("點贊", "點讚"),
    # 签→簽 default; lot/tag words take 籤
    ("標簽", "標籤"), ("抽簽", "抽籤"), ("牙簽", "牙籤"), ("求簽", "求籤"),
    # 须→須 default; beard takes 鬚
    ("胡須", "鬍鬚"), ("觸須", "觸鬚"),
    # 别→別 default; 彆扭 class
    ("別扭", "彆扭"), ("別致", "別緻"),
    # 恶→惡 default; nausea takes 噁
    ("惡心", "噁心"),
    # 只 → 隻 (classifier; 只有-class adverb stays unmapped)
    ("一只", "一隻"), ("兩只", "兩隻"), ("三只", "三隻"), ("几只", "幾隻"),
    ("船只", "船隻"),
    # 斗 → 鬥 (fight words; 北斗/斗六-class names and the measure stay 斗)
    ("戰斗", "戰鬥"), ("斗爭", "鬥爭"), ("奮斗", "奮鬥"), ("搏斗", "搏鬥"),
    ("斗志", "鬥志"), ("決斗", "決鬥"), ("格斗", "格鬥"),
    # 布 → 佈 (announce/deploy; the fabric 布 stays)
    ("宣布", "宣佈"), ("公布", "公佈"), ("發布", "發佈"), ("分布", "分佈"),
    ("散布", "散佈"), ("遍布", "遍佈"), ("布告", "佈告"), ("擺布", "擺佈"),
    ("布局", "佈局"), ("布置", "佈置"),
    # 占 → 佔 (occupy; divination 占卜 stays)
    ("占領", "佔領"), ("占據", "佔據"), ("占用", "佔用"), ("占有", "佔有"),
    ("占比", "佔比"), ("霸占", "霸佔"), ("侵占", "侵佔"), ("強占", "強佔"),
    # more 髮 (hair)
    ("洗發", "洗髮"), ("染發", "染髮"), ("護發", "護髮"), ("脫發", "脫髮"),
    ("金發", "金髮"), ("短發", "短髮"), ("卷發", "捲髮"),
    # 舍 → 捨 (give up; 宿舍-class building stays)
    ("舍不得", "捨不得"), ("取舍", "取捨"), ("舍棄", "捨棄"), ("施舍", "施捨"),
    # 杰 → 傑 (word-level: 杰 survives in given names)
    ("杰出", "傑出"), ("杰作", "傑作"), ("豪杰", "豪傑"), ("英杰", "英傑"),
    # 姜 → 薑 (ginger; the surname 姜 stays)
    ("生姜", "生薑"), ("姜母", "薑母"),
    # 卤 → 滷 (braised food; chemistry 鹵 via joins if ever needed)
    ("卤味", "滷味"), ("卤肉", "滷肉"), ("卤蛋", "滷蛋"),
    # 淀 → 澱 (sediment; 海淀-class place names stay)
    ("沉淀", "沉澱"), ("淀粉", "澱粉"),
    # 伙 → 夥 (companion; 伙食-class meals stay)
    ("伙伴", "夥伴"), ("大伙", "大夥"),
    # 欲 → 慾 (desire noun; the auxiliary 欲 stays)
    ("食欲", "食慾"), ("性欲", "性慾"), ("欲望", "慾望"),
    # 迹→跡 is the char default; historic sites take 蹟
    ("古跡", "古蹟"), ("事跡", "事蹟"), ("奇跡", "奇蹟"),
    # 梁 → 樑 (beam; the surname/dynasty 梁 stays)
    ("橋梁", "橋樑"), ("棟梁", "棟樑"),
    # 雇 → 僱 (TW standard for employment words)
    ("雇員", "僱員"), ("雇主", "僱主"), ("解雇", "解僱"), ("雇用", "僱用"),
    # misc singletons
    ("蘿卜", "蘿蔔"), ("咨詢", "諮詢"), ("症結", "癥結"), ("呼吁", "呼籲"),
    ("借口", "藉口"), ("憑借", "憑藉"), ("脈沖", "脈衝"), ("警钟", "警鐘"),
    ("鬧钟", "鬧鐘"), ("生锈", "生鏽"), ("鐵锈", "鐵鏽"), ("強奸", "強姦"),
    ("通奸", "通姦"), ("干貨", "乾貨"), ("曬干", "曬乾"), ("風干", "風乾"),
    # more s2twp-class Taiwan vocabulary (length-preserving subset)
    ("網絡", "網路"), ("服務器", "伺服器"), ("數碼", "數位"), ("默認", "預設"),
    ("屏幕", "螢幕"), ("光標", "游標"), ("音頻", "音訊"), ("短信", "簡訊"),
    ("硬盤", "硬碟"), ("光盤", "光碟"), ("軟盤", "軟碟"), ("列印機", "印表機"),
    ("菠蘿", "鳳梨"), ("奶酪", "乳酪"), ("幼兒園", "幼稚園"),
    ("立交橋", "交流道"), ("智能", "智慧"),
    # ---- round-3 continued expansion ----
    # more 裡 (location nouns; bare 里 the unit/village stays)
    ("心里", "心裡"), ("夜里", "夜裡"), ("家里", "家裡"), ("城里", "城裡"),
    ("屋里", "屋裡"), ("手里", "手裡"), ("嘴里", "嘴裡"), ("眼里", "眼裡"),
    # more 乾 / 幹
    ("晾干", "晾乾"), ("擦干", "擦乾"), ("吹干", "吹乾"), ("苦干", "苦幹"),
    ("實干", "實幹"), ("干勁", "幹勁"), ("干練", "幹練"),
    # more 復 / 複 / 覆
    ("复興", "復興"), ("复健", "復健"), ("复查", "復查"), ("复審", "復審"),
    ("复議", "復議"), ("复合", "複合"), ("复式", "複式"), ("复選", "複選"),
    ("复利", "複利"), ("复診", "復診"), ("繁复", "繁複"), ("顛复", "顛覆"),
    # more 準 (批准-class approval 准 stays)
    ("瞄准", "瞄準"), ("對准", "對準"),
    # more 鬆 / 緻
    ("肉松", "肉鬆"), ("蓬松", "蓬鬆"), ("景致", "景緻"), ("雅致", "雅緻"),
    # more 錶 (timepieces/meters; 表格-class forms stay 表)
    ("表帶", "錶帶"), ("電表", "電錶"), ("水表", "水錶"), ("碼表", "碼錶"),
    # 週 weekdays and surroundings (四周 the spatial noun stays)
    ("周一", "週一"), ("周二", "週二"), ("周三", "週三"), ("周四", "週四"),
    ("周五", "週五"), ("周六", "週六"), ("周日", "週日"), ("周遭", "週遭"),
    # 御 → 禦 (defend; the imperial 御 stays)
    ("抵御", "抵禦"), ("防御", "防禦"),
    # 愈 → 癒 (heal; the adverb 愈 stays)
    ("愈合", "癒合"), ("痊愈", "痊癒"), ("治愈", "治癒"),
    # 仆 → 僕 (servant; 仆倒 the verb stays), 佣 → 傭 (佣金 stays)
    ("仆人", "僕人"), ("奴仆", "奴僕"), ("公仆", "公僕"),
    ("女佣", "女傭"), ("佣人", "傭人"), ("幫佣", "幫傭"),
    # 台→臺 is the char default; typhoon takes 颱
    ("臺風", "颱風"),
    # more s2twp-class Taiwan vocabulary (OpenCC TWPhrases/TWPhrases_IT,
    # length-preserving or chain-reachable subset)
    ("程序員", "程式員"), ("程序", "程式"), ("芯片", "晶片"),
    ("集成電路", "積體電路"), ("數據庫", "資料庫"), ("文件夾", "資料夾"),
    ("郵箱", "信箱"), ("登錄", "登入"), ("在線", "線上"),
    ("寬帶", "寬頻"), ("帶寬", "頻寬"), ("鏈接", "連結"),
    ("自行車", "腳踏車"), ("圓珠筆", "原子筆"),
]

# ---- round-4: Taiwan proper-noun fixups mined from the reference's public
# admin-name corpus (see zh_twnames.py for the mining rule + provenance).
# Appended AFTER the prose fixups: several sources (一心裡, 古城裡, …) only
# exist once a prose pair has fired, and the fold applies entries in order.
from .zh_twnames import TW_NAME_FIXUPS  # noqa: E402

S2T_WORD_FIXUPS += TW_NAME_FIXUPS

# fixups run AFTER the character pass, so their sources must be written in
# post-character-stage form (a source containing a still-simplified mapped
# char could never match)
_BAD = [s for s, _ in S2T_WORD_FIXUPS for ch in s if ch in SIMPLIFIED]
assert not _BAD, f"fixup sources unreachable after character stage: {_BAD}"
# sources unique (a duplicate would make the second entry dead code)
assert len({s for s, _ in S2T_WORD_FIXUPS}) == len(S2T_WORD_FIXUPS)
# length-preserving (tests/test_properties.py relies on it)
assert all(len(s) == len(d) for s, d in S2T_WORD_FIXUPS)


_S2T_TRANS = str.maketrans(SIMPLIFIED, TRADITIONAL)
_T2S_TRANS = str.maketrans(TRADITIONAL, SIMPLIFIED)
_T2S_WORD_FIXUPS = [(d, s) for s, d in S2T_WORD_FIXUPS if s != d]


def _py_s2t(text: str) -> str:
    """Simplified → Traditional: the character stage, then every word
    fixup in order — the function behind :func:`s2t_udf` and
    :func:`s2t_t2s_udf` (:func:`s2t_sql` is its DuckDB text)."""
    out = text.translate(_S2T_TRANS)
    for s, d in S2T_WORD_FIXUPS:
        out = out.replace(s, d)
    return out


def _py_t2s(text: str) -> str:
    """Traditional → Simplified: the reversed word fixups, then the
    reverse character stage (:func:`t2s_sql` is its DuckDB text)."""
    out = text
    for d, s in _T2S_WORD_FIXUPS:
        out = out.replace(d, s)
    return out.translate(_T2S_TRANS)


#: known-ambiguous simplified chars the character stage deliberately leaves
#: UNMAPPED (multiple traditional targets, no safe default): their correct
#: conversion exists only at word level.  An occurrence of one of these in
#: an engine-PRODUCED traditional name means either (a) a word fixup legit-
#: imately resolved it to the bare char (e.g. 皇后), (b) the reference's own
#: 裏→里 Taiwan-village rule emitted it, or (c) it is UNFIXED — a word
#: context the dictionary lacks.  tests/test_properties.py mines every
#: zh-producing driver query at sf0.01 and asserts case (c) never happens
#: (round-3 VERDICT "Next round" #7).
AMBIGUOUS_UNMAPPED = ("干面里只复钟范几斗卜占布舍杰姜淀卤伙松谷冲历划"
                      "曲朴蒙余系采制表征获尽症辟游")
assert not set(AMBIGUOUS_UNMAPPED) & set(SIMPLIFIED)

#: transliteration stems AUDITED as correctly KEEPING a bare ambiguous char:
#: phonetic morphemes of Thai place names (reference meta_data/TH.csv, the
#: simplified-Chinese LocationIQ corpus the reference feeds through s2twp —
#: core/translate.py:17-19) where 里/干/谷/松/游 are syllables, not words
#: (武里=buri, 汶干=Bueng Kan, 曼谷=Bangkok, 阿游她亞=Ayutthaya…): OpenCC's
#: char stage keeps them too (only prose phrases rewrite them), so the bare
#: char IS the correct zh-tw form.  Audit-only — consulted by
#: :func:`ambiguous_unfixed_occurrences`, never by the conversion fold, so
#: the hot path pays nothing.  tests/test_properties.py asserts this set
#: exactly covers the TH corpus flags (drift in either direction fails).
AMBIGUOUS_KEEP_STEMS = frozenset({
    "武里", "董里", "富里", "汶干", "巴干", "曼谷", "彤松", "阿游她亞",
})


def ambiguous_unfixed_occurrences(name: str) -> list[tuple[int, str]]:
    """Positions of :data:`AMBIGUOUS_UNMAPPED` chars in ``name`` that are
    NOT covered by any word-fixup target spanning them, nor by an audited
    transliteration stem (:data:`AMBIGUOUS_KEEP_STEMS`) — pure-Python audit
    helper for the property tests; not a query-path function."""
    out = []
    covers = [dst for _, dst in S2T_WORD_FIXUPS] + list(AMBIGUOUS_KEEP_STEMS)
    for pos, ch in enumerate(name):
        if ch not in AMBIGUOUS_UNMAPPED:
            continue
        covered = False
        for dst in covers:
            if ch not in dst:
                continue
            start = 0
            while not covered:
                hit = name.find(dst, start)
                if hit < 0:
                    break
                if hit <= pos < hit + len(dst):
                    covered = True
                start = hit + 1
            if covered:
                break
        if not covered:
            out.append((pos, ch))
    return out


# every target must be a fixpoint of the FULL pipeline (char stage may map
# a target char like 后→後 as long as a later fixup restores it), and every
# source must actually rewrite to its target when fed alone — generalized
# from the round-2 source-only assert (VERDICT.md round-2 item 2)
_NONFIX = [d for _, d in S2T_WORD_FIXUPS if _py_s2t(d) != d]
assert not _NONFIX, f"fixup targets not s2t-fixpoints: {_NONFIX}"
_UNREACHED = [s for s, d in S2T_WORD_FIXUPS if _py_s2t(s) != d]
assert not _UNREACHED, f"fixup sources preempted by earlier entries: {_UNREACHED}"


# ---------------------------------------------------------------------------
# DuckDB SQL text of the conversions: the oracles' independent restatement of
# _py_s2t/_py_t2s (tests/test_properties.py pins them equal).  The word stage
# is a FOLD over the fixup pairs — one list_reduce node regardless of
# dictionary size.  A chained replace(replace(…)) nests one level per entry:
# DuckDB's binder caps expression depth at 128 (a 209-entry chain fails to
# bind); the fold keeps depth O(1) and scales to thousands of entries — the
# shape an OpenCC-sized phrase dictionary needs.
#
# Each PAIR rides the folded list itself as one 'src␟dst' string (split
# inside the lambda): the earlier shape indexed two n-literal arrays from
# inside the lambda, which DuckDB re-constructed on EVERY reduce step —
# O(n²) literal evals per row, measured 176 s for 500 rows at n=510 vs
# 0.5 s for this shape (identical output).
# ---------------------------------------------------------------------------

#: separator inside each folded 'src␟dst' pair literal
_SEP = "\x1f"
assert all(_SEP not in s and _SEP not in d for s, d in S2T_WORD_FIXUPS)


def _word_fold(init: str, pairs: list[tuple[str, str]]) -> str:
    """DuckDB text folding ``replace(acc, src_i, dst_i)`` over ``init``."""
    if not pairs:
        return init
    elems = ", ".join(f"'{s}{_SEP}{d}'" for s, d in pairs)
    return (f"list_reduce(list_concat([{init}], [{elems}]), "
            f"(acc, p) -> replace(acc, string_split(p, chr(31))[1], "
            f"string_split(p, chr(31))[2]))")


def s2t_sql(col: str) -> str:
    """DuckDB text of :func:`_py_s2t` (char translate, then the word fold)."""
    return _word_fold(f"translate({col}, '{SIMPLIFIED}', '{TRADITIONAL}')",
                      S2T_WORD_FIXUPS)


def t2s_sql(col: str) -> str:
    """DuckDB text of :func:`_py_t2s` (reverse word fold, then reverse
    characters)."""
    return (f"translate({_word_fold(col, _T2S_WORD_FIXUPS)}, "
            f"'{TRADITIONAL}', '{SIMPLIFIED}')")


#: Han-script membership, reference translate.py:52-69 (regex dialects:
#: Java `\p{IsHan}` / RE2 `\p{Han}`).  The *_SQL variants are for embedding
#: inside SQL string literals (Spark SQL eats single backslashes in
#: literals; DuckDB keeps them).
IS_CHINESE_RE_SPARK = r"^[\p{IsHan}-]+$"
IS_CHINESE_SQL = {"spark": r"^[\\p{IsHan}-]+$", "duckdb": r"^[\p{Han}-]+$"}
HAS_CHINESE_SQL = {"spark": r"[\\p{IsHan}]", "duckdb": r"[\p{Han}]"}


def is_chinese(col: Column) -> Column:
    """Whole string is Han (or '-') — reference is_chinese (translate.py:52-55)."""
    return col.rlike(IS_CHINESE_RE_SPARK)


def s2t_t2s_udf():
    """Arrow-batched kernel: text → struct(s2t, t2s), both conversions in
    one pass per row — the form Spark runs.

    Python ``str.translate`` + the fixup replace chain (``_py_s2t`` /
    ``_py_t2s``) runs at C speed, and one ArrowEvalPython node carries the
    whole dictionary.  A JVM ``aggregate`` fold of the same replaces is
    CodegenFallback (interpreted, ~400 ``replace`` calls per row) and
    repeats its ~800 literals in every projection that mentions it.  The
    DuckDB oracles run :func:`s2t_sql`/:func:`t2s_sql`, which
    tests/test_properties.py pins equal to this kernel's functions.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def conv(texts):
        return pd.DataFrame({
            "s2t": [None if t is None else _py_s2t(t) for t in texts],
            "t2s": [None if t is None else _py_t2s(t) for t in texts],
        })

    conv.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(conv, "struct<s2t:string, t2s:string>")


def s2t_udf():
    """Arrow-batched s2t only (see :func:`s2t_t2s_udf`)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def conv(texts):
        return pd.Series([None if t is None else _py_s2t(t) for t in texts])

    conv.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(conv, "string")
